package graft.plans

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.sources.{fixtures, tables}

/**
 * spark-submit entrypoint: the full KG-construction job with stage
 * materialization + manifest-based resume + metrics accumulators — the
 * north_rule's "resumes idempotently from checkpoint with per-partition
 * lineage" contract (the reference memoizes by bare file existence,
 * run_bertmap.py:62-67; we fingerprint stage inputs).
 *
 *   spark-submit --class graft.plans.Main graft.jar \
 *     <transcriptsPath|fixture:N> <catalogDir|fixture> <workDir>
 *
 * Stages (`Pipeline.run`'s phases, each a lineage.stage through its
 * `keep` hook — skipped when its manifest matches):
 *   mentions → mappings → repaired → triples
 * A stage's fingerprint is its name + the inputs it reads + the settable
 * `Params`. A path input is fingerprinted by its file listing (path,
 * length, mtime; `lineage.listing`): `mentions` and `triples` read the
 * transcripts and the catalog, `mappings` and `repaired` the catalog only.
 * So re-running with the same inputs reuses every stage, a changed
 * transcript file rebuilds `mentions` and `triples` only, and deleting a
 * stage dir rebuilds that stage only. Fixed settings (the `Params`
 * members) and code are not fingerprinted: after a code change, use a
 * fresh work dir.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val transcriptsArg = args.lift(0).getOrElse("fixture:2000")
    val catalogArg = args.lift(1).getOrElse("fixture")
    val workDir = args.lift(2).getOrElse("/tmp/graft-work")

    // a live session (a spec, a notebook) is used as it is: its confs are
    // its owner's, and getOrCreate would rewrite the runtime SQL ones
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val builder0 = SparkSession.builder().appName("graft-kg-construct")
    // spark-submit injects spark.master; standalone sbt runs default local
    val spark = preexisting.getOrElse((if (sys.props.contains("spark.master")) builder0
      else builder0.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // execution memory off-heap: on-heap sort/window pages are live
      // young-gen data copied on every GC — measured multi-second young
      // pauses and 3x wall at transcript scale (BENCH/BASELINE.md)
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size",
        sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "8g"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    // --- inputs ------------------------------------------------------------
    // (transcripts, catalog) fingerprints: the fixture settings each one
    // depends on, or each input directory's file listing
    val (turns, classes, edges, turnsFp, catalogFp) = transcriptsArg match {
      case s if s.startsWith("fixture:") =>
        val n = s.stripPrefix("fixture:").toInt
        val cfg = fixtures.tiny.copy(nConvs = n)
        (fixtures.transcripts(spark, cfg), fixtures.classes(spark, cfg),
          fixtures.edges(spark, cfg), s"fixture:$n:seed=${cfg.seed}", s"fixture:seed=${cfg.seed}")
      case path =>
        val t = tables.readTranscripts(spark, path).as[Turn]
        val c = spark.read.parquet(s"$catalogArg/classes").as[ClassText]
        val e = spark.read.parquet(s"$catalogArg/edges").as[Edge]
        (t, c, e, lineage.listing(spark, path), lineage.listing(spark, catalogArg))
    }
    // each stage is fingerprinted over what it reads: the alignment chain
    // reads the catalog only, so a transcript change resumes it
    def reads(stage: String) =
      if (Set("mappings", "repaired")(stage)) catalogFp else turnsFp + catalogFp

    // turns-processed metric via CollectMetrics (df.observe): rides the
    // existing scan for free. The previous typed .map accumulator was a
    // deserialize-everything barrier below mention-detect's 3-column
    // projection — it decoded all 6 transcript columns at 10^12-turn scale
    // and multi-counted on Dataset reuse. PlanShapeSpec "Main-path observed
    // scan still prunes" pins the pruning.
    val turnMetrics = Observation("graft_turns")
    val observedTurns = turns.observe(turnMetrics, count(lit(1)).as("turns"))

    // --- staged run ---------------------------------------------------------
    val params = Pipeline.Params()
    val paramsFp = params.toString // the settable fields only
    val rebuilt = scala.collection.mutable.Set.empty[String]
    val (mappings, triples) = Pipeline.run(spark, observedTurns, classes, edges, params,
      keep = (name, df) => lineage.stage(spark, workDir, name, reads(name) + paramsFp) {
        rebuilt.add(name)
        df
      })

    // graph/ carries a copy of the triples stage's manifest (Spark's reader
    // skips `_` files): a graph written from the same triples is kept. The
    // copy is written last, so a crash mid-write leaves no match.
    val graphDir = s"$workDir/graph"
    val tripleManifest = lineage.readManifest(spark, s"$workDir/triples").get
    if (!lineage.readManifest(spark, graphDir).contains(tripleManifest)) {
      tables.writeTriples(triples, graphDir)
      lineage.writeManifest(spark, graphDir, tripleManifest)
    }
    // the observed metric exists only when the mentions stage scanned the
    // transcripts this run (`get` blocks otherwise); a resumed one scans nothing
    val turnsSeen: Long =
      if (rebuilt.contains("mentions")) turnMetrics.get("turns").asInstanceOf[Long] else 0L
    val predCounts = spark.read.parquet(graphDir)
      .groupBy("pred").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val byPred = predCounts.map { case (p, n) => s"$p=$n" }.mkString(", ")
    val nMappings = mappings.count()
    println(s"[graft] mappings=$nMappings triples by pred: $byPred; " +
      s"turns seen (observed)=$turnsSeen resumed=${rebuilt.isEmpty}")
    // run metrics alongside the stage manifests (north_rule: resumable with
    // per-partition lineage + metrics)
    val metricsJson = predCounts.map { case (p, n) => s""""$p":$n""" }
      .mkString(
        s"""{"mappings":$nMappings,"turns_seen":$turnsSeen,"resumed":${rebuilt.isEmpty},"triples":{""",
        ",", "}}")
    // through the Hadoop FS API like the manifests: a hdfs:///s3a:// workDir
    // gets the metrics on the cluster store, not the driver's local disk
    lineage.writeText(spark, workDir, "metrics.json", metricsJson)
    if (preexisting.isEmpty) spark.stop() // under spark-submit we own it
  }
}
