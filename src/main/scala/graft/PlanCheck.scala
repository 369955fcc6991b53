package graft

import org.apache.spark.sql.functions._

/**
 * Dev tool: dump formatted physical plans for the load-bearing queries and
 * grep-able assertions about them (pushdown reached the scan, broadcast
 * chosen, codegen spans). The PLAN notes in README derive from this.
 */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Bench.session(8)
    import spark.implicits._

    def check(name: String, wanted: Seq[String], unwanted: Seq[String] = Nil,
              execute: Boolean = false)(
        df: org.apache.spark.sql.DataFrame): Unit = {
      // run THIS plan (not a derived count() query) so AQE finalizes and
      // the string shows the real codegen spans
      if (execute) df.queryExecution.executedPlan.execute().count()
      val plan = df.queryExecution.executedPlan.toString
      val missing = wanted.filterNot(plan.contains)
      val present = unwanted.filter(plan.contains)
      val status = if (missing.isEmpty && present.isEmpty) "OK " else "BAD"
      println(s"[plan] $status $name" +
        (if (missing.nonEmpty) s" missing=$missing" else "") +
        (if (present.nonEmpty) s" unwanted=$present" else ""))
      if (status == "BAD" || args.contains("-v"))
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    // 1. filter + projection pushdown to parquet
    check("pushdown: lineitem filter+prune",
      wanted = Seq("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"),
      unwanted = Seq("l_comment")) {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter($"l_quantity" > 45).select("l_orderkey", "l_partkey")
    }

    // 2. broadcast join picked for dimension join
    check("broadcast: orders x customer", wanted = Seq("BroadcastHashJoin")) {
      SparkEntry.queries("q38_join_groupby")(spark, sfDir)
    }

    // 3. candidate generation: broadcast token join + partial aggregation
    check("candidates: broadcast + partial agg",
      wanted = Seq("BroadcastHashJoin", "HashAggregate")) {
      SparkEntry.queries("q04_idf_candidates")(spark, sfDir)
    }

    // 4. whole-stage codegen covers the scorer-adjacent relational work
    // (codegen stages print as "*(n)" in the finalized plan's simple
    // string), and the typed scorer leaves AQE owning the plan around it
    check("codegen spans in scorer pairs",
      wanted = Seq("*(1)", "BroadcastHashJoin", "MapPartitions"), execute = true) {
      SparkEntry.queries("q31_scorer_pairs")(spark, sfDir)
    }

    // 5. window top-k stays a single shuffle + window (no extra sort jobs)
    check("topk window", wanted = Seq("Window", "Exchange hashpartitioning")) {
      SparkEntry.queries("q05_topk_window")(spark, sfDir)
    }

    // 6. transcript path reads only needed columns (mention detect projection)
    check("detect scan prunes columns", wanted = Seq("ReadSchema"), unwanted = Seq("role")) {
      import graft.model._
      val dir = "/tmp/graft-planchk"
      graft.sources.tables.writeTranscripts(
        graft.sources.fixtures.transcripts(spark, graft.sources.fixtures.tiny).toDF(), dir)
      graft.operators.mentions.detect(spark,
        spark.read.parquet(dir).as[Turn],
        graft.sources.fixtures.classes(spark, graft.sources.fixtures.tiny)
          .filter(_.onto == "src").collect().toSeq).toDF()
    }

    // 9. width pins survive: the candidate fan-out join (per token,
    // |q-docs| × df output rows) must run as a BROADCAST of the
    // catalog-bounded postings (r7: forced hint — without it the SMJ
    // shuffled the full 180 MB fan-out into the (query, class) agg) with
    // the explicit REPARTITION_BY_NUM exchanges on the probe chain — the
    // query side (which the agg + top-k window reuse) and the pair-scoring
    // stage. AQE's byte-based coalescing otherwise runs the 35M-row
    // fan-out + partial agg on ONE task (measured; see BENCH/BASELINE.md
    // "1-task disease"). A refactor dropping the pins or the broadcast
    // would pass every correctness test and silently serialize the chain,
    // so the plan shape itself is the regression gate.
    check("candidates: broadcast fan-out + width pins on the probe chain",
      wanted = Seq("REPARTITION_BY_NUM", "BroadcastHashJoin")) {
      import graft.operators.nes
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val fromLab = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
      val toLab = docs.filter(col("doc_id") >= 100)
        .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
      val plan = nes.alignOneSide(fromLab, toLab, 400, 5, 1)
      val formatted = plan.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pins = "REPARTITION_BY_NUM".r.findAllIn(formatted).size
      require(pins >= 2,
        s"expected >= 2 explicit width pins (query side, pair scoring), " +
          s"found $pins")
      plan
    }

    // 10. detectJoin (the 100x no-collect linker) keeps its shape: the
    // first-token prefilter and the key join stay broadcast joins for a
    // catalog-sized dict (no transcript-side shuffle before the greedy
    // kernel), and the per-turn greedy resolution is a FlatMapGroups over
    // ONE exchange keyed by the turn — the narrow post-reduction dict join
    // happens after it. A refactor that reintroduced the entity fan-out
    // before the exchange would pass correctness and silently triple the
    // dominant shuffle's width (measured 843 MB -> 690 MB on the 12M-turn
    // fixture when the fan-out moved behind the kernel).
    check("detectJoin: broadcast prefilter + narrow greedy exchange",
      wanted = Seq("BroadcastHashJoin", "MapGroups")) {
      import graft.model._
      graft.operators.mentions.detectJoin(spark,
        graft.sources.fixtures.transcripts(spark, graft.sources.fixtures.tiny),
        graft.sources.fixtures.classes(spark, graft.sources.fixtures.tiny)
          .filter(_.onto == "src")).toDF()
    }

    // 11. salted candidate join: with the posting side too big to
    // broadcast (stats off = the 100x regime), saltBuckets > 1 must key
    // the JOIN itself on (token, salt) — spreading a hot token's fan-out
    // across salt buckets — not just pre-aggregate after it
    {
      import graft.operators.index
      val posting = index.postingsFromText(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
      val q = posting.limit(50).select(col("class_id").as("query_id"), col("token"))
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        check("salted candidates: join keyed on (token, salt) in shuffle regime",
          wanted = Seq("salt"), unwanted = Seq("BroadcastHashJoin")) {
          val df = index.idfCandidates(q, posting, 500, 5, saltBuckets = 8)
          val joinKeys = df.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
              j.condition.map(_.references.map(_.name).toSeq.sorted).getOrElse(Nil)
          }
          require(joinKeys.exists(_.contains("salt")),
            s"no join keyed on salt in $joinKeys — the salt no longer spreads the join")
          df
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }

    // 12. decontaminate: the benchmark shingle-key set is the broadcast
    // side — the (100 TB) training side must not shuffle into ANY
    // sort-merge join before its per-doc overlap agg (execute=true so AQE
    // finalizes: a SortMergeJoin surviving the finalized plan would mean
    // a train-side shuffle regressed in)
    check("decontaminate: all joins broadcast, train side never sort-merged",
      wanted = Seq("BroadcastHashJoin", "HashAggregate"),
      unwanted = Seq("SortMergeJoin"), execute = true) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.operators.quality.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text", 3, 2L)
    }

    // 13. quotaSample: ranks are computed within (grp, md5-prefix bucket) —
    // the rank window's exchange must key on the bucket too (a plain
    // per-group window runs each domain on ONE task). The side tables
    // carry no forced hint (the many-domains contract), so AQE must pick
    // the broadcast at THIS size on runtime stats — execute=true. The
    // offsets branch derives from the ranked frame, so the (grp,_b)
    // exchange must be REUSED (one corpus scan total, not two).
    check("quotaSample: bucketed rank window + stats-driven broadcast sides",
      wanted = Seq("_b", "BroadcastHashJoin", "Window", "ReusedExchange"),
      execute = true) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val quotas = docs.select(col("source").as("grp")).distinct()
        .withColumn("quota", when(length(col("grp")) === 4, 8).otherwise(4))
      graft.operators.quality.quotaSample(docs, "doc_id", "source", quotas)
    }

    // 14. PQ ADC: the candidate code table (the 10^10-row side at scale)
    // is never the build side of any join — every lookup (LUT, qnorm)
    // reaches it as a broadcast; a SortMergeJoin anywhere in the finalized
    // plan means the code table started shuffling for a lookup
    check("pqTopK: code table joins stay broadcast end to end",
      wanted = Seq("BroadcastHashJoin"),
      unwanted = Seq("SortMergeJoin"), execute = true) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cb = graft.operators.similarity.pqFitCodebooks(
        e.filter(col("vec_id") < 200), "vec_id", "embedding", 2, 32, 4, 2)
      val codes = graft.operators.similarity.pqEncode(e, cb, "vec_id", "embedding", 2, 32)
      graft.operators.similarity.pqTopK(e.filter(col("vec_id") < 10), codes, cb,
        "vec_id", "embedding", 5, 2, 32)
    }

    // 15. embeddingLshPairs: the (band, sig) bucket self-join must carry
    // the explicit width pin (bucket joins explode quadratically per
    // bucket while AQE sizes the exchange by input bytes — the 1-task
    // disease). The hyperplane projection being join-free (weight matrix
    // as a literal) is a code-level property the operator enforces by
    // construction (typedLit) and is NOT asserted here — the plan's
    // legitimate joins (bucket self-join, exact-cosine verify) make a
    // substring-level "no join below the exchange" assertion impossible.
    check("embeddingLshPairs: width-pinned bucket join",
      wanted = Seq("REPARTITION_BY_NUM"), execute = true) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.operators.dedup.embeddingLshPairs(e, "vec_id", "embedding",
        planes = 32, bands = 4, threshold = 0.3)
    }

    // 16. semanticDedup: the within-cell pair self-join must carry the
    // explicit width pin on BOTH sides — same rationale as the LSH bucket
    // join (quadratic per-cell fan-out, AQE sizes the exchange by input
    // bytes, the 1-task disease)
    check("semanticDedup: width-pinned cell pair join",
      wanted = Seq("REPARTITION_BY_NUM"), execute = true) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.operators.similarity.semanticDedup(e,
        e.filter(col("vec_id") < 200), "vec_id", "embedding", 4, 2, 0.4)
    }

    // 17. gumbelTopK: the global top-n must compile to
    // TakeOrderedAndProject (per-partition heads + driver merge of n-row
    // results) — a Sort + Limit pair over the full input would be the
    // global-sort bottleneck the operator exists to avoid
    check("gumbelTopK: top-n is TakeOrdered, never a global sort",
      wanted = Seq("TakeOrderedAndProject"), execute = true) {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), (col("n_chars") * 1000L).as("lw"))
      graft.operators.quality.gumbelTopK(d, "doc_id", "lw", 20, seed = 7L)
    }

    // 8. Main-path: the observe() turns metric (CollectMetrics) must not
    // block the same pruning — the transcript scan under spark-submit reads
    // only (conv_id, turn_idx, text) even with the metric attached
    check("Main-path observed scan still prunes", wanted = Seq("ReadSchema", "CollectMetrics"),
      unwanted = Seq("role", "tool")) {
      import graft.model._
      val obs = org.apache.spark.sql.Observation("planchk_turns")
      val turns = spark.read.parquet("/tmp/graft-planchk").as[Turn]
        .observe(obs, count(lit(1)).as("turns"))
      graft.operators.mentions.detect(spark, turns,
        graft.sources.fixtures.classes(spark, graft.sources.fixtures.tiny)
          .filter(_.onto == "src").collect().toSeq).toDF()
    }

    spark.stop()
  }
}
