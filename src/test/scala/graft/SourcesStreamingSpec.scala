package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.model._
import graft.sources.{fixtures, tables}

class SourcesStreamingSpec extends SparkSuite {
  import spark.implicits._

  test("mapping TSV roundtrip keeps literal 'null'/'n/a' strings (NA contract)") {
    val dir = Files.createTempDirectory("graft-tsv").toString + "/maps"
    val m = Seq(("null", "n/a", 0.5), ("a", "NULL", 1.0))
      .toDF("entity1", "entity2", "value")
    tables.writeMappingsTsv(m, dir)
    val back = tables.readMappingsTsv(spark, dir)
      .as[(String, String, Double)].collect().toSet
    assert(back == Set(("null", "n/a", 0.5), ("a", "NULL", 1.0)))
  }

  test("OAEI alignment-RDF scan: Cells split into reference (=,<,>) and ignored (?) mappings") {
    val rdf =
      """<?xml version="1.0" encoding="utf-8"?>
        |<rdf:RDF xmlns="http://knowledgeweb.semanticweb.org/heterogeneity/alignment"
        |  xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
        |<Alignment><map><Cell>
        |  <entity1 rdf:resource="http://onto.a/A1"/>
        |  <entity2 rdf:resource="http://onto.b/B1"/>
        |  <measure rdf:datatype="xsd:float">1.0</measure>
        |  <relation>=</relation>
        |</Cell></map>
        |<map><Cell>
        |  <entity1 rdf:resource="http://onto.a/A2"/>
        |  <entity2 rdf:resource="http://onto.b/B2"/>
        |  <measure rdf:datatype="xsd:float">0.7</measure>
        |  <relation>?</relation>
        |</Cell></map>
        |<map><Cell>
        |  <entity1 rdf:resource="http://onto.a/A3"/>
        |  <entity2 rdf:resource="http://onto.b/B3"/>
        |  <measure rdf:datatype="xsd:float">0.9</measure>
        |  <relation>&lt;</relation>
        |</Cell></map></Alignment></rdf:RDF>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("oaei").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "align.rdf"), rdf)
    val (refs, ign) = tables.readOaeiMappings(spark, dir)
    val r = refs.as[(String, String, Double)].collect().toSet
    assert(r == Set(("http://onto.a/A1", "http://onto.b/B1", 1.0),
      ("http://onto.a/A3", "http://onto.b/B3", 0.9)))
    val i = ign.as[(String, String, Double)].collect().toSet
    assert(i == Set(("http://onto.a/A2", "http://onto.b/B2", 0.7)))
  }

  test("OWL catalog scan: named classes with labels + named-parent subClassOf edges") {
    val owl =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:owl="http://www.w3.org/2002/07/owl#"
        |  xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">
        |<owl:Class rdf:about="http://onto.a/HeartDisease">
        |  <rdfs:label>heart disease</rdfs:label>
        |  <rdfs:label xml:lang="en">cardiac disease</rdfs:label>
        |  <rdfs:subClassOf rdf:resource="http://onto.a/Disease"/>
        |</owl:Class>
        |<owl:Class rdf:about="http://onto.a/Disease">
        |  <rdfs:label>disease</rdfs:label>
        |</owl:Class>
        |<owl:Class rdf:about="http://onto.a/Anon">
        |  <rdfs:subClassOf><owl:Restriction/></rdfs:subClassOf>
        |</owl:Class>
        |</rdf:RDF>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("owl").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "cat.owl"), owl)
    val (classes, edges) = tables.readOwlCatalog(spark, dir, "src")
    val cls = classes.as[(String, String, Seq[String])].collect()
      .map(r => r._2 -> r._3).toMap
    assert(cls("http://onto.a/HeartDisease") == Seq("heart disease", "cardiac disease"))
    assert(cls("http://onto.a/Disease") == Seq("disease"))
    assert(!cls.contains("http://onto.a/Anon")) // label-less class dropped
    val e = edges.as[(String, String, String)].collect().toSet
    assert(e == Set(("src", "http://onto.a/HeartDisease", "http://onto.a/Disease")))
  }

  test("OWL catalog scan resolves anonymous parents to named ancestors") {
    // the shapes real OAEI files carry (owlready2's is_a walks them,
    // onto_box.py:154-161): a nested named-class parent, a nodeID-routed
    // blank class with a named parent, a 2-hop blank chain, a restriction
    // parent (skipped — no reasoner), and a unionOf (skipped — unsound)
    val owl =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:owl="http://www.w3.org/2002/07/owl#"
        |  xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">
        |<owl:Class rdf:about="http://o/Nested">
        |  <rdfs:label>nested</rdfs:label>
        |  <rdfs:subClassOf><owl:Class rdf:about="http://o/NamedParent"/></rdfs:subClassOf>
        |</owl:Class>
        |<owl:Class rdf:about="http://o/ViaNode">
        |  <rdfs:label>via node</rdfs:label>
        |  <rdfs:subClassOf rdf:nodeID="b1"/>
        |</owl:Class>
        |<owl:Class rdf:nodeID="b1">
        |  <rdfs:subClassOf rdf:resource="http://o/NodeParent"/>
        |  <rdfs:subClassOf rdf:nodeID="b2"/>
        |</owl:Class>
        |<owl:Class rdf:nodeID="b2">
        |  <owl:intersectionOf rdf:parseType="Collection">
        |    <owl:Class rdf:about="http://o/DeepA"/>
        |    <owl:Class rdf:about="http://o/DeepB"/>
        |  </owl:intersectionOf>
        |</owl:Class>
        |<owl:Class rdf:about="http://o/Restricted">
        |  <rdfs:label>restricted</rdfs:label>
        |  <rdfs:subClassOf rdf:resource="http://o/RealParent"/>
        |  <rdfs:subClassOf><owl:Restriction>
        |    <owl:someValuesFrom rdf:resource="http://o/NotAParent"/>
        |  </owl:Restriction></rdfs:subClassOf>
        |</owl:Class>
        |<owl:Class rdf:about="http://o/Unioned">
        |  <rdfs:label>unioned</rdfs:label>
        |  <rdfs:subClassOf rdf:nodeID="b3"/>
        |</owl:Class>
        |<owl:Class rdf:nodeID="b3">
        |  <owl:unionOf rdf:parseType="Collection">
        |    <owl:Class rdf:about="http://o/UnionA"/>
        |  </owl:unionOf>
        |</owl:Class>
        |</rdf:RDF>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("owl-anon").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "cat.owl"), owl)
    val (_, edges) = tables.readOwlCatalog(spark, dir, "src")
    val e = edges.as[(String, String, String)].collect()
      .map(r => (r._2, r._3)).toSet
    assert(e == Set(
      ("http://o/Nested", "http://o/NamedParent"),       // nested named class
      ("http://o/ViaNode", "http://o/NodeParent"),       // nodeID, 1 hop
      ("http://o/ViaNode", "http://o/DeepA"),            // nodeID chain, 2 hops
      ("http://o/ViaNode", "http://o/DeepB"),            //   (intersection operands)
      ("http://o/Restricted", "http://o/RealParent")))   // restriction skipped,
    // union operands are NOT ancestors; someValuesFrom is NOT an edge
    assert(!e.exists(_._2 == "http://o/UnionA"))
    assert(!e.exists(_._2 == "http://o/NotAParent"))
  }

  test("OWL blank-node restriction fillers are not ancestors, and a " +
      "direct + via-node duplicate parent yields ONE edge") {
    val owl =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:owl="http://www.w3.org/2002/07/owl#"
        |  xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">
        |<owl:Class rdf:about="http://o/C">
        |  <rdfs:label>c</rdfs:label>
        |  <rdfs:subClassOf rdf:resource="http://o/P"/>
        |  <rdfs:subClassOf rdf:nodeID="br"/>
        |  <rdfs:subClassOf rdf:nodeID="bd"/>
        |</owl:Class>
        |<owl:Class rdf:nodeID="br">
        |  <owl:intersectionOf rdf:parseType="Collection">
        |    <owl:Class rdf:about="http://o/A"/>
        |    <owl:Restriction>
        |      <owl:someValuesFrom rdf:resource="http://o/Filler"/>
        |      <owl:onClass><owl:Class rdf:about="http://o/Filler2"/></owl:onClass>
        |    </owl:Restriction>
        |  </owl:intersectionOf>
        |</owl:Class>
        |<owl:Class rdf:nodeID="bd">
        |  <rdfs:subClassOf rdf:resource="http://o/P"/>
        |</owl:Class>
        |</rdf:RDF>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("owl-restr").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "cat.owl"), owl)
    val (_, edges) = tables.readOwlCatalog(spark, dir, "src")
    val all = edges.as[(String, String, String)].collect()
      .map(r => (r._2, r._3)).toSeq
    // a restriction-carrying blank node is skipped WHOLE (conservative,
    // same contract as the direct nested path): neither the filler nor
    // the sibling intersection operand surfaces as a phantom ancestor
    assert(!all.exists(_._2 == "http://o/Filler"))
    assert(!all.exists(_._2 == "http://o/Filler2"))
    assert(!all.exists(_._2 == "http://o/A"))
    // P is asserted directly AND via the bd blank node: exactly one edge
    assert(all.count(_ == ("http://o/C", "http://o/P")) == 1)
  }

  test("eval CSV roundtrip keeps the threshold-sweep rows") {
    val report = Seq((0.5, 10L, 0.9, 0.8, 0.847), (0.7, 6L, 1.0, 0.6, 0.75))
      .toDF("threshold", "n_mappings", "p", "r", "f1")
    val dir = java.nio.file.Files.createTempDirectory("evalcsv").toString
    tables.writeEvalCsv(report, dir)
    val back = tables.readEvalCsv(spark, dir)
      .select("threshold", "n_mappings", "f1")
      .as[(Double, Long, Double)].collect().toSet
    assert(back == Set((0.5, 10L, 0.847), (0.7, 6L, 0.75)))
  }

  test("transcript table roundtrip: bucketed write, asserted-schema read") {
    val dir = Files.createTempDirectory("graft-tt").toString + "/transcripts"
    val t = fixtures.transcripts(spark, fixtures.tiny)
    tables.writeTranscripts(t.toDF(), dir)
    val back = tables.readTranscripts(spark, dir)
    assert(back.count() == t.count())
    assert(back.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    // schema assertion fires on a wrong table
    val badDir = Files.createTempDirectory("graft-bad").toString + "/x"
    Seq((1, "a")).toDF("k", "v").write.parquet(badDir)
    intercept[IllegalArgumentException](tables.readTranscripts(spark, badDir))
  }

  test("triples sink partitioned by pred; partition pruning applies") {
    val dir = Files.createTempDirectory("graft-tr").toString + "/graph"
    val t = Seq(("a", "sameAs", "b", 1.0), ("c#1", "mentions", "a", 1.0))
      .toDF("subj", "pred", "obj", "score")
    tables.writeTriples(t, dir)
    val sameAs = tables.readTriples(spark, dir).filter($"pred" === "sameAs")
    assert(sameAs.count() == 1)
    val plan = sameAs.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("pred"))
  }

  test("JSONL transcript ingest: roundtrip + corrupt-line quarantine (asserted schema, one pass)") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val turns = Seq(
      Turn("c1", 0, "user", "alpha beta", null, new Timestamp(1000L)),
      Turn("c1", 1, "assistant", "gamma", "search", new Timestamp(2000L)),
      Turn("c2", 0, "user", "delta", null, new Timestamp(3000L)))
    graft.sources.tables.writeTranscriptsJsonl(turns.toDF(), s"$dir/clean")
    val (good0, corrupt0) = graft.sources.tables.readTranscriptsJsonl(spark, s"$dir/clean")
    assert(corrupt0.count() == 0)
    val back = good0.as[Turn].collect().sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    assert(back == turns) // per-turn text equality under stable ordering
    // a dump with garbage interleaved: malformed JSON + schema drift
    val mixed = Seq(
      """{"conv_id":"c9","turn_idx":0,"role":"user","text":"ok","tool":null,"ts":"2026-01-01T00:00:00.000Z"}""",
      """this is not json at all""",
      """{"conv_id":"c9","role":"user","text":"missing turn_idx"}""",
      """{"turn_idx":3,"text":"missing conv_id"}""",
      // wrong-typed fields: partial-results parsing nulls just the bad
      // field — these must land in quarantine, not as silently-nulled rows
      """{"conv_id":"c9","turn_idx":"not-an-int","role":"user","text":"drifted turn_idx"}""",
      """{"conv_id":"c9","turn_idx":4,"role":"user","text":"drifted ts","ts":"not-a-timestamp"}""")
    Files.write(java.nio.file.Paths.get(s"$dir/raw.jsonl"),
      mixed.mkString("\n").getBytes("UTF-8"))
    val (good, corrupt) = graft.sources.tables.readTranscriptsJsonl(spark, s"$dir/raw.jsonl")
    assert(good.count() == 1 && good.select("conv_id").as[String].head() == "c9")
    val bad = corrupt.as[String].collect().toSet
    assert(bad == mixed.drop(1).toSet) // quarantined VERBATIM, none dropped
  }

  test("sessionizeGap: new session opens after the idle gap, ordinals per key") {
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      (10L, 1L, ts(0)),    // u1 s1
      (11L, 1L, ts(100)),  // u1 s1 (gap 100 <= 600)
      (12L, 1L, ts(800)),  // u1 s2 (gap 700 > 600)
      (13L, 1L, ts(900)),  // u1 s2
      (20L, 2L, ts(50))    // u2 s1
    ).toDF("event_id", "user_id", "ts")
    val got = graft.streaming.stream
      .sessionizeGap(ev, "user_id", "ts", "event_id", 600.0)
      .select("event_id", "session_ord").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 13L -> 2L, 20L -> 1L))
    // a gap of exactly the threshold does NOT open a session (strict >)
    val edge = Seq((1L, 1L, ts(0)), (2L, 1L, ts(600))).toDF("event_id", "user_id", "ts")
    val e = graft.streaming.stream
      .sessionizeGap(edge, "user_id", "ts", "event_id", 600.0)
      .select("event_id", "session_ord").as[(Long, Long)].collect().toMap
    assert(e == Map(1L -> 1L, 2L -> 1L))
  }

  test("Main: staged run resumes from manifests (second run reuses stages)") {
    val work = Files.createTempDirectory("graft-main").toString
    val stages = Seq("mentions", "mappings", "repaired", "triples")
    def manifest(s: String) = new java.io.File(s"$work/$s/_GRAFT_MANIFEST.json")
    // Main runs inside this live session and leaves its confs as they are
    val confKeys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst", "spark.sql.session.timeZone")
    def confs() = confKeys.map(k => k -> spark.conf.getOption(k))
    val confsBefore = confs()
    // graph/ files and their mtimes: a resumed run leaves them untouched
    def graphFiles() = {
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(s"$work/graph"), null, true).asScala
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    graft.plans.Main.main(Array("fixture:40", "fixture", work))
    assert(confs() == confsBefore)
    val graph1 = graphFiles()
    // every phase of Pipeline.run is a stage
    for (s <- stages) assert(manifest(s).isFile, s"no $s manifest")
    val m1 = graft.plans.lineage.readManifest(spark, s"$work/triples")
    assert(m1.isDefined && m1.get.rows > 0)
    // second run must hit the manifests (same fingerprint, same rows)
    graft.plans.Main.main(Array("fixture:40", "fixture", work))
    val m2 = graft.plans.lineage.readManifest(spark, s"$work/triples")
    assert(m2.get.fingerprint == m1.get.fingerprint && m2.get.rows == m1.get.rows)
    assert(spark.read.parquet(s"$work/graph").count() == m1.get.rows)
    assert(graphFiles() == graph1, "the resumed run rewrote graph/")
    // ... and so scans no transcripts
    val metrics = Files.readString(java.nio.file.Paths.get(s"$work/metrics.json"))
    assert(metrics.contains("\"resumed\":true") && metrics.contains("\"turns_seen\":0"), metrics)
    // a deleted stage is rebuilt alone: the other manifests stay untouched
    val before = stages.map(s => s -> manifest(s).lastModified()).toMap
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/mentions"))
    graft.plans.Main.main(Array("fixture:40", "fixture", work))
    assert(manifest("mentions").isFile)
    for (s <- stages.tail) assert(manifest(s).lastModified() == before(s), s"$s was rebuilt")
    assert(spark.read.parquet(s"$work/graph").count() == m1.get.rows)
    assert(graphFiles() == graph1, "a run on unchanged triples rewrote graph/")
    assert(confs() == confsBefore)
  }

  test("Main: a changed transcript directory rebuilds mentions and triples, not the alignment") {
    val root = Files.createTempDirectory("graft-main-in").toString
    val cfg = fixtures.tiny.copy(nConvs = 40)
    fixtures.transcripts(spark, cfg).toDF().repartition(3).write.parquet(s"$root/turns")
    fixtures.classes(spark, cfg).write.parquet(s"$root/catalog/classes")
    fixtures.edges(spark, cfg).write.parquet(s"$root/catalog/edges")
    def main(work: String) =
      graft.plans.Main.main(Array(s"$root/turns", s"$root/catalog", work))
    def digest(work: String) = graft.operators.canonical
      .tripleDigest(tables.readTriples(spark, s"$work/graph")).head()
    val work = s"$root/work"
    val stages = Seq("mentions", "mappings", "repaired", "triples")
    def mtimes() = stages.map(s =>
      s -> new java.io.File(s"$work/$s/_GRAFT_MANIFEST.json").lastModified()).toMap
    main(work)
    val (before, digest1) = (mtimes(), digest(work))
    // drop one of the three transcript parts (and its checksum file)
    val part = new java.io.File(s"$root/turns").listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    assert(part.delete())
    new java.io.File(part.getParent, s".${part.getName}.crc").delete()
    main(work)
    val after = mtimes()
    for (s <- Seq("mentions", "triples")) assert(after(s) != before(s), s"$s resumed")
    for (s <- Seq("mappings", "repaired")) assert(after(s) == before(s), s"$s was rebuilt")
    val metrics = Files.readString(java.nio.file.Paths.get(s"$work/metrics.json"))
    assert(metrics.contains("\"resumed\":false"), metrics)
    // the graph is the one a fresh work dir writes over the same files
    assert(digest(work) != digest1)
    main(s"$root/fresh")
    assert(digest(work) == digest(s"$root/fresh"))
  }
}
