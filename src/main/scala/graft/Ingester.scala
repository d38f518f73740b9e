package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Coref, Geocode, SocialNetwork}
import graft.sinks.{GraphML, RelationalExport, SearchIndex}
import graft.sources.{DocumentSource, Gazetteer}

/**
 * The full reference pipeline (/root/reference/src/Ingester.groovy:32-56,
 * ten steps) as a composition of pure DataFrame stages. Each stage is
 * independently callable (the reference's per-step mains — SURVEY.md §3.2);
 * `run` wires them end-to-end:
 *
 *   1  EXTRACT_TEXT          scanDirectory + extractText
 *   2  FIND_NAMED_ENTITIES   extractMentions (pluggable tagger seam)
 *   3  POPULATE_GRAPH_DB     — plain DataFrames; no separate store
 *   4-6 PROCESS_*            one type-keyed coref pass for person/org/loc
 *                            (Coref.withinDocAll + acrossDocAll)
 *   7  GEOCODE               Geocode.run over the gazetteer
 *   8  PRECOMPUTE_COUNTS     SocialNetwork.documentEntityCounts
 *   9  INDEX_DOCS            — out-of-engine (Lucene); text predicates cover
 *  10  CONVERT_TO_H2         RelationalExport (parquet; jdbc mirror)
 *   +  social network        SocialNetwork.cooccurrenceEdges + GraphML
 */
object Ingester {

  final case class Config(
      inputDir: String,
      outputDir: String,
      glob: String = "*.txt",
      extractor: DocumentSource.TextExtractor = DocumentSource.Utf8Extractor,
      tagger: DocumentSource.NerTagger = DocumentSource.CapitalizedRunTagger,
      nodeMinDocs: Int = 2,
      edgeMinDocs: Int = 2,
      // O(p²) pair-generation guard: keep each doc's top-N entities by
      // mention count before pairing (SocialNetwork.cooccurrenceEdges).
      // Far above any real doc (sf0.1 max is ~10²) but bounds a
      // pathological doc at 500k pairs instead of 5·10⁹.
      maxEntitiesPerDoc: Int = SocialNetwork.DefaultMaxEntitiesPerDoc,
      // Posting-row bound for the step-9 index artifact: a stop-word
      // term's postings span <= this many rows instead of one corpus-
      // sized array cell (SearchIndex.build nDocShards — the r12 OOM
      // fix). Search results are shard-agnostic; 32 keeps per-row state
      // ~= df/32 at any corpus size this pipeline meets.
      indexDocShards: Int = 32,
      // Also write the POSITIONAL index artifact (step 9b) so phrase /
      // sloppy-phrase search serves from pipeline output without a
      // bespoke build (VERDICT r12 #5). Same doc-shard bound — the
      // positional artifact is strictly bigger per term, so the
      // stop-word row bound matters here first.
      indexPositional: Boolean = true)

  final case class Result(
      documents: DataFrame,
      mentions: DataFrame,
      entities: DataFrame,
      assignment: DataFrame,
      socialEdges: DataFrame,
      documentEntity: DataFrame,
      geolocation: DataFrame)

  /** Steps 4-6: one type-keyed coref pass over person/org/loc mentions;
    * returns (entities, mention→entity). */
  def corefAll(mentions: DataFrame): (DataFrame, DataFrame) = {
    val w = Coref.withinDocAll(mentions, Coref.WithinDocParams.all)
    val a = Coref.acrossDocAll(w.entities, Coref.AcrossDocParams.all)
    val finalAssign = w.assignment
      .withColumnRenamed("entity_id", "within_id")
      .join(a.assignment.withColumnRenamed("entity_id", "within_id"), "within_id")
      .select(col("mention_id"), col("new_entity_id").as("entity_id"))
    (a.entities, finalAssign)
  }

  def run(spark: SparkSession, cfg: Config): Result = {
    // 1-2: files → text → mentions.
    val raw = DocumentSource.scanDirectory(spark, cfg.inputDir, cfg.glob)
    val docs = DocumentSource.extractText(raw, cfg.extractor)
      .filter(col("text").isNotNull)
    val mentions = DocumentSource.extractMentions(docs, cfg.tagger)

    // 4-6: one coref pass over all three types (person/org/loc).
    val (entities, assignment) = corefAll(mentions)

    // 7: geocode locations against the gazetteer.
    val geo = Geocode.run(entities, Gazetteer.countries(spark))

    // 8: materialized counts; social network over coref'd persons.
    val docEntity = SocialNetwork.documentEntityCounts(
      assignment, mentions.select("mention_id", "doc_id"))
    val edges = SocialNetwork.cooccurrenceEdges(
      assignment, mentions.select("mention_id", "doc_id"), entities,
      maxEntitiesPerDoc = cfg.maxEntitiesPerDoc)

    // 10 (+GraphML): terminal artifacts.
    val (keptNodes, keptEdges) = SocialNetwork.thresholded(
      entities, edges, cfg.nodeMinDocs, cfg.edgeMinDocs)
    RelationalExport.writeParquet(
      RelationalExport.tables(
        docs.select("doc_id", "name", "path", "text"),
        mentions, assignment, entities, geo, docEntity),
      cfg.outputDir)
    GraphML.write(keptNodes, keptEdges, s"${cfg.outputDir}/social_network.graphml")
    // 9: the search-index artifact (the reference's Lucene build step),
    // doc-sharded so no term's postings collect into one row; 9b: the
    // positional twin, serving phrase/sloppy search straight from the
    // pipeline's output directory.
    SearchIndex.write(
      SearchIndex.build(docs, "doc_id", "text",
        nDocShards = cfg.indexDocShards),
      s"${cfg.outputDir}/search_index")
    if (cfg.indexPositional)
      SearchIndex.write(
        SearchIndex.buildPositional(docs, "doc_id", "text",
          nDocShards = cfg.indexDocShards),
        s"${cfg.outputDir}/search_index_positional")

    Result(docs, mentions, entities, assignment, edges, docEntity, geo)
  }

  // ---- Per-step stages over parquet checkpoints: every stage of the
  // reference runs standalone (WithinDocPerCoref.groovy:20-30,
  // Geocoder.groovy:60-92 `--coref-only` — SURVEY.md §3.2); here each
  // stage reads its predecessor's checkpoint under <stageDir> and writes
  // its own, so any stage can be re-run or resumed in isolation.

  /** Steps 1-2: corpus files → documents + mention_raw checkpoints. */
  def extractStage(spark: SparkSession, inputDir: String, stageDir: String,
      glob: String = "*.txt",
      extractor: DocumentSource.TextExtractor = DocumentSource.Utf8Extractor,
      tagger: DocumentSource.NerTagger = DocumentSource.CapitalizedRunTagger): Unit = {
    val raw = DocumentSource.scanDirectory(spark, inputDir, glob)
    val docs = DocumentSource.extractText(raw, extractor)
      .filter(col("text").isNotNull)
    docs.select("doc_id", "name", "path", "text")
      .write.mode("overwrite").parquet(s"$stageDir/documents")
    DocumentSource.extractMentions(docs, tagger)
      .write.mode("overwrite").parquet(s"$stageDir/mention_raw")
  }

  /** Steps 4-6: mention_raw checkpoint → entity_raw + assignment. */
  def corefStage(spark: SparkSession, stageDir: String): Unit = {
    val mentions = spark.read.parquet(s"$stageDir/mention_raw")
    val (entities, assignment) = corefAll(mentions)
    entities.write.mode("overwrite").parquet(s"$stageDir/entity_raw")
    assignment.write.mode("overwrite").parquet(s"$stageDir/assignment")
  }

  /** Step 9 standalone: documents checkpoint → search_index artifact
    * (doc-sharded — the same posting-row bound as the full run), plus
    * the positional twin unless disabled. */
  def indexStage(spark: SparkSession, stageDir: String,
      nDocShards: Int = 32, positional: Boolean = true): Unit = {
    val docs = spark.read.parquet(s"$stageDir/documents")
    SearchIndex.write(
      SearchIndex.build(docs, "doc_id", "text", nDocShards = nDocShards),
      s"$stageDir/search_index")
    if (positional)
      SearchIndex.write(
        SearchIndex.buildPositional(docs, "doc_id", "text",
          nDocShards = nDocShards),
        s"$stageDir/search_index_positional")
  }

  /** Step 7: entity_raw checkpoint → geolocation_raw. */
  def geocodeStage(spark: SparkSession, stageDir: String,
      gaz: SparkSession => DataFrame = Gazetteer.countries): Unit =
    Geocode.run(spark.read.parquet(s"$stageDir/entity_raw"), gaz(spark))
      .write.mode("overwrite").parquet(s"$stageDir/geolocation_raw")

  /** Steps 8+10: checkpoints → relational export + GraphML artifacts. */
  def exportStage(spark: SparkSession, stageDir: String, outDir: String,
      cfg: Config): Unit = {
    val docs = spark.read.parquet(s"$stageDir/documents")
    val mentions = spark.read.parquet(s"$stageDir/mention_raw")
    val entities = spark.read.parquet(s"$stageDir/entity_raw")
    val assignment = spark.read.parquet(s"$stageDir/assignment")
    val geo = spark.read.parquet(s"$stageDir/geolocation_raw")
    val docEntity = SocialNetwork.documentEntityCounts(
      assignment, mentions.select("mention_id", "doc_id"))
    val edges = SocialNetwork.cooccurrenceEdges(
      assignment, mentions.select("mention_id", "doc_id"), entities,
      maxEntitiesPerDoc = cfg.maxEntitiesPerDoc)
    val (keptNodes, keptEdges) = SocialNetwork.thresholded(
      entities, edges, cfg.nodeMinDocs, cfg.edgeMinDocs)
    RelationalExport.writeParquet(
      RelationalExport.tables(docs, mentions, assignment, entities, geo, docEntity),
      outDir)
    GraphML.write(keptNodes, keptEdges, s"$outDir/social_network.graphml")
  }
}
