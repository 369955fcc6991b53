package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Storage facade — Iceberg-shaped table IO emulated on partitioned Parquet
 * (no Iceberg runtime jar ships in /opt/spark/jars; keeping every read and
 * write behind this object lets a real Iceberg catalog drop in by changing
 * only these four methods to `.format("iceberg")`).
 *
 * Conventions:
 *  - transcripts are bucketed by conv_id hash so per-conversation windows
 *    shuffle once at write time, not per query;
 *  - the triples graph table is partitioned by `pred` (query pattern:
 *    per-predicate scans) — partition pruning handles `pred = 'sameAs'`.
 */
object tables {

  val TranscriptBuckets = 64

  /** Write transcripts bucketed by conv hash (Iceberg bucket(conv_id) in
    * spirit). */
  def writeTranscripts(df: DataFrame, path: String): Unit =
    df.withColumn("conv_bucket", pmod(hash(col("conv_id")), lit(TranscriptBuckets)))
      .write.mode("overwrite")
      .partitionBy("conv_bucket")
      .parquet(path)

  /** Asserted-schema transcript scan (fail-fast on drift — the reference
    * trusts dict shapes; we do not). */
  def readTranscripts(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val required = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"transcript table at $path missing columns: $missing")
    df.select(required.map(col): _*)
  }

  /** JSONL transcript ingest — the raw-dump format transcripts actually
    * arrive in before they become a bucketed table (one JSON object per
    * line: conv_id, turn_idx, role, text, tool, ts as ISO-8601).
    *
    * The schema is ASSERTED, never inferred: schema inference over a
    * 100 TB dump is a full extra scan with nondeterministic column typing.
    * Corrupt lines are quarantined, not fatal and not silently dropped —
    * PERMISSIVE mode routes them to `_corrupt_record`, and this returns
    * (good rows as the canonical transcript shape, corrupt-line DataFrame
    * for the caller's quarantine sink). A caller that wants fail-fast
    * checks `corrupt.isEmpty`. */
  def readTranscriptsJsonl(spark: SparkSession,
                           path: String): (DataFrame, DataFrame) = {
    // text scan + from_json, NOT spark.read.json: (a) the json reader's
    // corrupt-record column cannot be filtered without materializing the
    // whole read (Spark's documented PERMISSIVE quirk) — a cache() is not
    // an option at dump scale; (b) from_json with an explicit schema keeps
    // the parse inside whole-stage codegen on the text scan, one pass.
    val schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, " +
      "tool STRING, ts TIMESTAMP"
    val parsed = spark.read.text(path)
      .select(col("value"),
        from_json(col("value"), schema, Map.empty[String, String]).as("j"))
    // a line is good iff it parsed AND carries the row identity AND any
    // ts it carried actually parsed; anything else (malformed JSON,
    // identity-field drift, a wrong-typed turn_idx or unparseable ts) goes
    // to quarantine verbatim. The ts clause is load-bearing: Spark's
    // partial-results parsing (enablePartialResults, default on) nulls
    // just the bad field and keeps the row — without the raw-key check a
    // drifted timestamp would land in the "good" output silently nulled.
    // role/tool need no such check (StringType accepts any JSON scalar
    // verbatim — they cannot drift to null).
    val ok = col("j").isNotNull && col("j.conv_id").isNotNull &&
      col("j.turn_idx").isNotNull && col("j.text").isNotNull &&
      (get_json_object(col("value"), "$.ts").isNull || col("j.ts").isNotNull)
    val good = parsed.filter(ok).select(
      col("j.conv_id").as("conv_id"), col("j.turn_idx").as("turn_idx"),
      col("j.role").as("role"), col("j.text").as("text"),
      col("j.tool").as("tool"), col("j.ts").as("ts"))
    val corrupt = parsed.filter(!ok).select(col("value").as("corrupt_line"))
    (good, corrupt)
  }

  /** JSONL transcript sink (the roundtrip twin; ISO-8601 timestamps). */
  def writeTranscriptsJsonl(df: DataFrame, path: String): Unit =
    df.select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"))
      .write.mode("overwrite").json(path)

  /** Mapping TSV sink — the reference's exact 3-column contract
    * (Entity1\tEntity2\tValue, header, tab separator; onto_map.py:144-146). */
  def writeMappingsTsv(mappings: DataFrame, path: String): Unit =
    mappings.select(col("entity1").as("Entity1"), col("entity2").as("Entity2"),
        col("value").as("Value"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("sep", "\t").option("header", "true")
      .csv(path)

  /** Mapping TSV scan with the reference's NA handling: literal "null" /
    * "NULL" / "n/a" stay strings — IRIs can be weird (bertmap/__init__.py:6,
    * onto_eval.py:103 pass keep_default_na=False). Spark's csv reader
    * nulls only exact `nullValue` matches; pointing it at a sentinel that
    * cannot occur disables coercion entirely. */
  def readMappingsTsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true")
      .option("nullValue", "\u0000")
      .schema("Entity1 STRING, Entity2 STRING, Value DOUBLE")
      .csv(path)
      .select(col("Entity1").as("entity1"), col("Entity2").as("entity2"),
        col("Value").as("value"))

  /** Eval report CSV sink/scan (reference: report.to_csv eval_bertmap.py:242,
    * pd.read_csv onto_map.py:152) — threshold-sweep tables are tiny; one
    * headerful CSV part. */
  def writeEvalCsv(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  def readEvalCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** OAEI alignment-RDF mappings scan (reference: oaei_utils.py:12-54) —
    * the test-set ingestion tool: each <Cell> carries entity1/entity2
    * resources, a relation and a measure. Parsed declaratively: whole-file
    * text scan → regexp Cell extraction (explode parallelizes across
    * cells; multiple alignment files parallelize across files) → column
    * regexes. Returns (reference mappings: rel ∈ {=, <, >}, ignored
    * mappings: rel = ?), mirroring the reference's two return lists. */
  def readOaeiMappings(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val raw = spark.read.option("wholetext", "true").text(path)
    val cells = raw.select(explode(regexp_extract_all(col("value"),
      lit("(?s)<(?:\\w+:)?Cell[\\s>].*?</(?:\\w+:)?Cell>"), lit(0))).as("cell"))
    val parsed = cells.select(
      regexp_extract(col("cell"), "entity1[^>]*resource\\s*=\\s*[\"']([^\"']+)", 1).as("entity1"),
      regexp_extract(col("cell"), "entity2[^>]*resource\\s*=\\s*[\"']([^\"']+)", 1).as("entity2"),
      regexp_extract(col("cell"), "<(?:\\w+:)?relation>\\s*([^<]*?)\\s*</", 1).as("rel"),
      regexp_extract(col("cell"), "<(?:\\w+:)?measure[^>]*>\\s*([^<]*?)\\s*</", 1)
        .cast("double").as("value"))
    val refs = parsed
      .filter(col("rel").isin("=", ">", "<", "&gt;", "&lt;"))
      .select("entity1", "entity2", "value")
    val ignored = parsed.filter(col("rel") === "?")
      .select("entity1", "entity2", "value")
    (refs, ignored)
  }

  /** Minimal OWL/RDF-XML catalog scan (reference loads ontologies with
    * owlready2, onto_box.py:47): named classes with their rdfs:labels and
    * subClassOf edges to NAMED ancestors — exactly the subset the
    * alignment dataflow consumes (classtexts + hierarchy). Declarative:
    * whole-file text scan → regexp class-block extraction (explode
    * parallelizes across classes, multiple files across files) → column
    * regexes.
    *
    * Anonymous-parent handling — a DELIBERATE entailment-sound superset
    * of the reference's extraction: the reference's super_classes walk
    * (onto_box.py:155-161) keeps only named ThingClass parents and
    * filters And/Restriction constructs, so it never emits the
    * intersection-operand or blank-node-chain edges below; we add them
    * because every added edge is entailed (C ⊑ A ⊓ B ⊨ C ⊑ A) and a
    * named-only scan under-generates sibling hard-negatives and extension
    * hops on real OAEI files:
    *  - `<rdfs:subClassOf rdf:resource="X"/>` — direct named parent;
    *  - `<rdfs:subClassOf><owl:Class rdf:about="X"/>…` — nested named
    *    class refs (incl. intersectionOf operands: C ⊑ A ⊓ B entails
    *    C ⊑ A and C ⊑ B), skipped when the element carries a unionOf /
    *    complementOf / Restriction (C ⊑ A ⊔ B entails neither; restriction
    *    SEMANTICS stay out of scope — no reasoner here by design);
    *  - `<rdfs:subClassOf rdf:nodeID="b"/>` — blank-node indirection,
    *    resolved through `<owl:Class rdf:nodeID="b">` definitions to the
    *    nearest named ancestor(s), chains followed up to 3 hops (the
    *    blank-node tables are catalog-dimension — tiny joins).
    * Known limitation (documented, regex-not-XML): a FULL nested
    * `<owl:Class>…</owl:Class>` element truncates the enclosing block at
    * the inner close tag, so axioms after an inline intersection wrapper
    * are not seen; nodeID-routed serializations resolve completely.
    *
    * @return (classes(onto, class_iri, labels: array<string>),
    *          edges(onto, child_iri, parent_iri)) */
  def readOwlCatalog(spark: SparkSession, path: String,
                     onto: String): (DataFrame, DataFrame) = {
    val raw = spark.read.option("wholetext", "true").text(path)
    // block head must be a real open tag, not a self-closing reference —
    // `<owl:Class rdf:about="X"/>` inside another block must never seed a
    // phantom block of its own
    def blockPat(idAttr: String) =
      s"(?s)<owl:Class rdf:$idAttr=[\"'][^\"']+[\"'][^>]*(?<!/)>.*?</owl:Class>"
    val refPat = "<(?:owl:Class|rdf:Description) rdf:about=[\"']([^\"']+)"
    val namedParentPat = "<rdfs:subClassOf[^>]*rdf:resource=[\"']([^\"']+)[\"']"
    val nodeParentPat = "<rdfs:subClassOf[^>]*rdf:nodeID=[\"']([^\"']+)[\"']"
    val unsound = "owl:(Restriction|unionOf|complementOf)"

    val blocks = raw.select(explode(regexp_extract_all(col("value"),
      lit(blockPat("about")), lit(0))).as("blk"))
    // named refs nested INSIDE subClassOf elements only (equivalentClass /
    // disjointWith refs elsewhere in the block are not ancestors)
    val nestedRefs = flatten(transform(
      filter(regexp_extract_all(col("blk"),
          lit("(?s)<rdfs:subClassOf\\s*>(.*?)</rdfs:subClassOf>"), lit(1)),
        b => !b.rlike(unsound)),
      b => regexp_extract_all(b, lit(refPat), lit(1))))
    val parsed = blocks.select(
      regexp_extract(col("blk"), "<owl:Class rdf:about=[\"']([^\"']+)", 1).as("class_iri"),
      regexp_extract_all(col("blk"),
        lit("<rdfs:label[^>]*>\\s*([^<]*?)\\s*</rdfs:label>"), lit(1)).as("labels"),
      array_distinct(concat(
        regexp_extract_all(col("blk"), lit(namedParentPat), lit(1)),
        nestedRefs)).as("parents"),
      regexp_extract_all(col("blk"), lit(nodeParentPat), lit(1)).as("parent_nodes"))
      .filter(col("class_iri") =!= "")
    val classes = parsed
      .filter(size(col("labels")) > 0)
      .select(lit(onto).as("onto"), col("class_iri"), col("labels"))

    // blank-node class definitions: the anonymous ancestors nodeID-routed
    // serializations put between a child and its named ancestors
    val blankParsed = raw.select(explode(regexp_extract_all(col("value"),
        lit(blockPat("nodeID")), lit(0))).as("blk"))
      .select(
        regexp_extract(col("blk"), "<owl:Class rdf:nodeID=[\"']([^\"']+)", 1).as("node_id"),
        // same unsound-construct filter as the direct nested path: a
        // blank node carrying a Restriction would otherwise surface the
        // restriction FILLER class (refPat matches any rdf:about in the
        // block) as a phantom named ancestor
        when(col("blk").rlike(unsound),
            array().cast("array<string>"))
          .otherwise(array_distinct(concat(
            regexp_extract_all(col("blk"), lit(namedParentPat), lit(1)),
            regexp_extract_all(col("blk"), lit(refPat), lit(1))))).as("named"),
        regexp_extract_all(col("blk"), lit(nodeParentPat), lit(1)).as("nodes"))
      .filter(col("node_id") =!= "")
    val nodeNamed = blankParsed
      .select(col("node_id"), explode(col("named")).as("parent_iri"))
    val nodeNode = blankParsed
      .select(col("node_id"), explode(col("nodes")).as("next_id"))
    var frontier = parsed
      .select(col("class_iri").as("child_iri"), explode(col("parent_nodes")).as("node_id"))
    var anonEdges = frontier.join(nodeNamed, Seq("node_id"))
      .select(col("child_iri"), col("parent_iri"))
    (2 to 3).foreach { _ =>
      frontier = frontier.join(nodeNode, Seq("node_id"))
        .select(col("child_iri"), col("next_id").as("node_id"))
      anonEdges = anonEdges.union(frontier.join(nodeNamed, Seq("node_id"))
        .select(col("child_iri"), col("parent_iri")))
    }

    // distinct across BOTH branches: a class asserting a named parent
    // directly AND reaching the same parent through a blank-node chain
    // must yield the edge once (the pre-round-6 reader was per-class
    // unique via array_distinct; multiplicity-sensitive consumers like
    // corpus.violationsOf rely on no-duplicate edges)
    val edges = parsed
      .select(col("class_iri").as("child_iri"), explode(col("parents")).as("parent_iri"))
      .union(anonEdges)
      .distinct()
      .select(lit(onto).as("onto"), col("child_iri"), col("parent_iri"))
    (classes, edges)
  }

  /** Triples graph-table sink: partitioned by predicate. */
  def writeTriples(triples: DataFrame, path: String): Unit =
    triples.write.mode("overwrite").partitionBy("pred").parquet(path)

  def readTriples(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
