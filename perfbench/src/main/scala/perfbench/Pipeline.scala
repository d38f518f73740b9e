package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.Ingester
import graft.operators.{Coref, Geocode, Observability, SocialNetwork}
import graft.sinks.{GraphML, RelationalExport, SearchIndex}
import graft.sources.{DocumentSource, Gazetteer}

/** Where one ingest leaves its artifacts. */
final case class Artifacts(outDir: String, indexDir: String) {
  def tables: Seq[(String, String)] =
    Seq("document", "mention", "entity", "document_entity", "geolocation")
      .map(t => t -> s"$outDir/$t") ++
      Seq("search_index", "search_index_positional").map(t => t -> s"$indexDir/$t")
  def graphml: String = s"$outDir/social_network.graphml"
}

/**
 * The two ways the benchmark runs the pipeline.
 *
 * `staged` is the timed product path: the `Ingester` stage functions
 * (the `RunIngester extract|coref|geocode|index|export` subcommands) in
 * pipeline order, each stage reading its predecessor's parquet checkpoint.
 *
 * `layered` is the traced pass: it calls each module's public function in
 * the same order, writes every layer's output to parquet before the next
 * layer reads it, and records one span per layer. Its artifacts must
 * digest equal to the staged path's.
 */
object Pipeline {

  def staged(spark: SparkSession, corpus: String, work: String): Artifacts = {
    val stage = s"$work/stage"
    val out = s"$work/out"
    Ingester.extractStage(spark, corpus, stage, tagger = BenchTagger)
    Ingester.corefStage(spark, stage)
    Ingester.geocodeStage(spark, stage)
    Ingester.indexStage(spark, stage)
    Ingester.exportStage(spark, stage, out,
      Ingester.Config(corpus, out, tagger = BenchTagger))
    Artifacts(out, stage)
  }

  private val CorefTypes = Seq(
    ("person", Coref.WithinDocParams.person, Coref.AcrossDocParams.person),
    ("organization", Coref.WithinDocParams.organization, Coref.AcrossDocParams.organization),
    ("location", Coref.WithinDocParams.location, Coref.AcrossDocParams.location))

  def layered(spark: SparkSession, rec: Recorder, corpus: String, corpusFiles: Long,
      work: String): Artifacts = {
    val dir = s"$work/layers"
    val out = s"$work/out"
    val cfg = Ingester.Config(corpus, out, tagger = BenchTagger)
    // Rows of every dataset a layer wrote, so a reader's rows_in is the
    // sum over what it reads; rows_out is observed on the write itself.
    val written = scala.collection.mutable.Map.empty[String, Long]
    def read(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
    def rowsOf(names: String*): Long = names.map(written).sum

    /** Hand the named frames to `sink`, counting each one's rows on the
      * sink's own jobs; returns the total. */
    def observedAll(dfs: Map[String, DataFrame])(sink: Map[String, DataFrame] => Unit): Long = {
      val tag = dfs.keys.map(n => n -> s"rows.$n").toMap
      val (_, seen) = Observability.collectMetrics(spark, tag.values.toSeq) {
        sink(dfs.map { case (n, df) =>
          n -> Observability.withMetrics(df, tag(n), Seq("n" -> count(lit(1))))
        })
      }
      dfs.keys.toSeq.map { n =>
        written(n) = seen(tag(n))("n").asInstanceOf[Long]
        written(n)
      }.sum
    }
    def observed(name: String, df: DataFrame)(sink: DataFrame => Unit): Long =
      observedAll(Map(name -> df))(m => sink(m(name)))
    def write(name: String, df: DataFrame): Long =
      observed(name, df)(_.write.mode("overwrite").parquet(s"$dir/$name"))
    def layer(name: String, parent: String, inputs: Seq[String])(body: => Long): Unit =
      rec.span(name, Some(parent), if (inputs.isEmpty) corpusFiles else rowsOf(inputs: _*))(body)

    rec.span("layers", None, -1L) {
      layer("DocumentSource.extract", "layers", Nil) {
        val raw = DocumentSource.scanDirectory(spark, corpus, cfg.glob)
        val docs = DocumentSource.extractText(raw, cfg.extractor)
          .filter(col("text").isNotNull)
        write("documents", docs.select("doc_id", "name", "path", "text"))
      }
      layer("DocumentSource.ner", "layers", Seq("documents")) {
        write("mention_raw", DocumentSource.extractMentions(read("documents"), cfg.tagger))
      }
      for ((t, w, _) <- CorefTypes)
        layer(s"Coref.within.$t", "layers", Seq("mention_raw")) {
          val r = Coref.withinDoc(read("mention_raw"), w)
          write(s"within_entity_$t", r.entities) + write(s"within_assign_$t", r.assignment)
        }
      for ((t, _, a) <- CorefTypes)
        layer(s"Coref.across.$t", "layers", Seq(s"within_entity_$t")) {
          val r = Coref.acrossDoc(read(s"within_entity_$t"), a)
          // The mention → final entity map, composed as Ingester.corefType does.
          val finalAssign = read(s"within_assign_$t")
            .withColumnRenamed("entity_id", "within_id")
            .join(r.assignment.withColumnRenamed("entity_id", "within_id"), "within_id")
            .select(col("mention_id"), col("new_entity_id").as("entity_id"))
          write(s"entity_$t", r.entities) + write(s"assign_$t", finalAssign)
        }
      // Union of the three types: wiring between layers, outside any span.
      def union(prefix: String): DataFrame =
        CorefTypes.map(t => read(s"${prefix}_${t._1}")).reduce(_.unionByName(_))
      write("entity_raw", union("entity"))
      write("assignment", union("assign"))

      layer("Geocode.run", "layers", Seq("entity_raw")) {
        write("geolocation_raw", Geocode.run(read("entity_raw"), Gazetteer.countries(spark)))
      }
      val mentionDocs = () => read("mention_raw").select("mention_id", "doc_id")
      layer("SocialNetwork.counts", "layers", Seq("assignment", "mention_raw")) {
        write("document_entity_raw",
          SocialNetwork.documentEntityCounts(read("assignment"), mentionDocs()))
      }
      layer("SocialNetwork.edges", "layers", Seq("assignment", "mention_raw", "entity_raw")) {
        write("edges", SocialNetwork.cooccurrenceEdges(read("assignment"), mentionDocs(),
          read("entity_raw"), maxEntitiesPerDoc = cfg.maxEntitiesPerDoc))
      }
      layer("SocialNetwork.thresholded", "layers", Seq("entity_raw", "edges")) {
        val (nodes, edges) = SocialNetwork.thresholded(read("entity_raw"), read("edges"),
          cfg.nodeMinDocs, cfg.edgeMinDocs)
        write("kept_nodes", nodes) + write("kept_edges", edges)
      }
      layer("RelationalExport.writeParquet", "layers",
          Seq("documents", "mention_raw", "assignment", "entity_raw",
            "geolocation_raw", "document_entity_raw")) {
        observedAll(RelationalExport.tables(read("documents"), read("mention_raw"),
          read("assignment"), read("entity_raw"), read("geolocation_raw"),
          read("document_entity_raw")))(RelationalExport.writeParquet(_, out))
      }
      layer("GraphML.write", "layers", Seq("kept_nodes", "kept_edges")) {
        GraphML.write(read("kept_nodes"), read("kept_edges"), s"$out/social_network.graphml")
        rowsOf("kept_nodes", "kept_edges")
      }
      layer("SearchIndex.build", "layers", Seq("documents")) {
        val idx = SearchIndex.build(read("documents"), "doc_id", "text",
          nDocShards = cfg.indexDocShards)
        observed("search_index", idx)(
          SearchIndex.write(_, s"$dir/search_index_artifact/search_index"))
      }
      layer("SearchIndex.buildPositional", "layers", Seq("documents")) {
        val idx = SearchIndex.buildPositional(read("documents"), "doc_id", "text",
          nDocShards = cfg.indexDocShards)
        observed("search_index_positional", idx)(
          SearchIndex.write(_, s"$dir/search_index_artifact/search_index_positional"))
      }
      -1L
    }
    Artifacts(out, s"$dir/search_index_artifact")
  }
}
