package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Coref, Geocode, SocialNetwork}
import graft.sinks.{GraphML, RelationalExport, SearchIndex}
import graft.sources.{DocumentSource, Gazetteer}

/**
 * The full reference pipeline (the reference's src/Ingester.groovy:32-56,
 * ten steps), wired once: five stages over parquet checkpoints. Each stage
 * reads its predecessor's checkpoint under a stage directory and writes
 * its own, so any stage runs alone (the reference's per-step mains and
 * `--coref-only` — SURVEY.md §3.2). `run` is the five stage calls with
 * the output directory as the stage directory, so the checkpoints
 * (documents, mention_raw, entity_raw, assignment, geolocation_raw) sit
 * beside the artifacts (document, mention, entity, document_entity,
 * geolocation, social_network.graphml, search_index*) and a finished run
 * resumes from any stage:
 *
 *   1  EXTRACT_TEXT          scanDirectory + extractText         extractStage
 *   2  FIND_NAMED_ENTITIES   extractMentions (pluggable tagger)   extractStage
 *   3  POPULATE_GRAPH_DB     — plain DataFrames; no separate store
 *   4-6 PROCESS_*            one type-keyed coref pass for        corefStage
 *                            person/org/loc (Coref.withinDocAll
 *                            + acrossDocAll)
 *   7  GEOCODE               Geocode.run over the gazetteer       geocodeStage
 *   8  PRECOMPUTE_COUNTS     SocialNetwork.documentEntityCounts   exportStage
 *   9  INDEX_DOCS            SearchIndex term + positional build  indexStage
 *  10  CONVERT_TO_H2         RelationalExport (parquet)           exportStage
 *   +  social network        SocialNetwork.cooccurrenceEdges      exportStage
 *                            + GraphML
 */
object Ingester {

  final case class Config(
      inputDir: String,
      outputDir: String,
      glob: String = "*.txt",
      extractor: DocumentSource.TextExtractor = DocumentSource.Utf8Extractor,
      tagger: DocumentSource.NerTagger = DocumentSource.GazetteerTagger,
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
      indexDocShards: Int = 32)

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

  /** All ten steps: the five stages with `cfg.outputDir` as the stage
    * directory, which ends up holding the checkpoints and the artifacts. */
  def run(spark: SparkSession, cfg: Config): Unit = {
    val dir = cfg.outputDir
    extractStage(spark, cfg.inputDir, dir, cfg.glob, cfg.extractor, cfg.tagger)
    corefStage(spark, dir)
    geocodeStage(spark, dir)
    indexStage(spark, dir, cfg.indexDocShards)
    exportStage(spark, dir, dir, cfg)
  }

  // ---- The stages, each standalone as in the reference
  // (WithinDocPerCoref.groovy:20-30, Geocoder.groovy:60-92 `--coref-only`):
  // read the predecessor's checkpoint under <stageDir>, write their own.

  /** Steps 1-2: corpus files → documents + mention_raw checkpoints. */
  def extractStage(spark: SparkSession, inputDir: String, stageDir: String,
      glob: String = "*.txt",
      extractor: DocumentSource.TextExtractor = DocumentSource.Utf8Extractor,
      tagger: DocumentSource.NerTagger = DocumentSource.GazetteerTagger): Unit = {
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

  /** Step 9: documents checkpoint → search_index artifact plus its
    * positional twin, which serves phrase/sloppy-phrase search (VERDICT
    * r12 #5). Both are doc-sharded so no term's postings collect into one
    * row; the positional artifact is bigger per term, so the bound
    * matters for it first. */
  def indexStage(spark: SparkSession, stageDir: String, nDocShards: Int = 32): Unit = {
    val docs = spark.read.parquet(s"$stageDir/documents")
    SearchIndex.write(
      SearchIndex.build(docs, "doc_id", "text", nDocShards = nDocShards),
      s"$stageDir/search_index")
    SearchIndex.write(
      SearchIndex.buildPositional(docs, "doc_id", "text", nDocShards = nDocShards),
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
