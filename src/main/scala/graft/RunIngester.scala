package graft

import org.apache.spark.sql.functions.{col, count, lit, sum}

/**
 * Standalone pipeline CLI (the reference's Ingester.main shape —
 * its src/Ingester.groovy:60-97 — plus its per-step mains, SURVEY.md §3.2):
 *
 *   sbt "runMain graft.RunIngester <inputDir> <outputDir> [glob]"   full run
 *   sbt "runMain graft.RunIngester run     <inputDir> <outputDir> [glob]"
 *   sbt "runMain graft.RunIngester extract <inputDir> <stageDir> [glob]"
 *   sbt "runMain graft.RunIngester coref   <stageDir>"
 *   sbt "runMain graft.RunIngester geocode <stageDir>"
 *   sbt "runMain graft.RunIngester index   <stageDir>"
 *   sbt "runMain graft.RunIngester export  <stageDir> <outDir>"
 *   sbt "runMain graft.RunIngester curate  <docsParquet> <outDir> [benchParquet]"
 *   sbt "runMain graft.RunIngester tokenize <docsParquet> <outDir> [merges]"
 *
 * Stage names win the args(0) dispatch (the conventional subcommand rule).
 * A corpus input directory literally named like a stage command is run via
 * the explicit `run` subcommand or an explicit path prefix (`./extract`) —
 * without one of those, bare `extract`/`coref`/… is always the stage.
 *
 * The full run is the stage commands over <outputDir>: it leaves the
 * relational parquet export (document/mention/entity/document_entity/
 * geolocation), social_network.graphml and search_index* there, beside the
 * stage checkpoints, and prints each table's row count read back from the
 * written parquet. Any stage re-runs alone over those checkpoints (the
 * reference's `--coref-only` workflow): `coref <out>` then
 * `export <out> <out>` re-runs coref in place.
 *
 * The tagger is [[graft.sources.DocumentSource.GazetteerTagger]], so
 * gazetteer place names become LOCATION entities and reach the geocoder.
 * The session comes from [[Sessions.local]] on `SPARK_GRAFT_CPUS` cores.
 */
object RunIngester {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunIngester <inputDir> <outputDir> [glob] | " +
        "extract <in> <stage> [glob] | coref <stage> | geocode <stage> | " +
        "index <stage> | export <stage> <out> | curate <docs> <out> [bench] | " +
        "tokenize <docs> <out> [merges]")
    val spark = Sessions.local(Sessions.envCores)
    args(0) match {
      case "extract" =>
        val glob = if (args.length > 3) args(3) else "*.txt"
        Ingester.extractStage(spark, args(1), args(2), glob)
        println(s"extract: checkpoints under ${args(2)}")
      case "coref" =>
        Ingester.corefStage(spark, args(1))
        println(s"coref: entity_raw + assignment under ${args(1)}")
      case "geocode" =>
        Ingester.geocodeStage(spark, args(1))
        println(s"geocode: geolocation_raw under ${args(1)}")
      case "index" =>
        Ingester.indexStage(spark, args(1))
        println(s"index: search_index under ${args(1)}")
      case "export" =>
        require(args.length >= 3, "usage: RunIngester export <stageDir> <outDir>")
        Ingester.exportStage(spark, args(1), args(2), Ingester.Config(args(1), args(2)))
        println(s"export: artifacts under ${args(2)}")
      case "curate" =>
        // curate <documents.parquet> <outDir> [benchmark.parquet]
        require(args.length >= 3,
          "usage: RunIngester curate <docsParquet> <outDir> [benchmarkParquet]")
        val docs = spark.read.parquet(args(1))
        val bench = args.lift(3).map(spark.read.parquet(_))
        val cfg = graft.operators.Curation.CurationConfig(benchmark = bench)
        val out = graft.operators.Curation.curate(
          docs, "doc_id", "text", "lang", cfg)
        out.write.mode("overwrite").parquet(s"${args(2)}/curated")
        val n = spark.read.parquet(s"${args(2)}/curated").count()
        println(s"curate: $n docs (of ${docs.count()}) under ${args(2)}/curated")
      case "tokenize" =>
        // tokenize <documents.parquet> <outDir> [merges]: train a BPE
        // merge table on the corpus, write it, encode the corpus with it
        // — the tokenizer-training + application step of an LLM data
        // pipeline as a CLI stage (artifacts: merges/ + encoded/).
        require(args.length >= 3,
          "usage: RunIngester tokenize <docsParquet> <outDir> [merges]")
        val docs = spark.read.parquet(args(1))
        val nMerges = args.lift(3).map(_.toInt).getOrElse(50)
        val table = graft.operators.Bpe.train(docs, "text", nMerges)
        table.write.mode("overwrite").parquet(s"${args(2)}/merges")
        val persisted = spark.read.parquet(s"${args(2)}/merges")
        graft.operators.Bpe.encode(docs, "doc_id", "text", persisted)
          .write.mode("overwrite").parquet(s"${args(2)}/encoded")
        val enc = spark.read.parquet(s"${args(2)}/encoded")
        val stats = enc.agg(count(lit(1)), sum(col("n_syms"))).head()
        println(s"tokenize: ${persisted.count()} merges; " +
          s"${stats.getLong(0)} docs, ${stats.getLong(1)} symbols " +
          s"under ${args(2)}")
      case cmd =>
        // The explicit `run` form is unambiguous even when the corpus dir
        // is literally named "extract"/"coref"/… (ADVICE r2).
        val a = if (cmd == "run") args.tail else args
        require(a.length >= 2, "usage: RunIngester [run] <inputDir> <outputDir> [glob]")
        Ingester.run(spark, Ingester.Config(a(0), a(1), a.lift(2).getOrElse("*.txt")))
        println(Seq("document", "mention", "entity", "document_entity", "geolocation")
          .map(t => s"$t=${spark.read.parquet(s"${a(1)}/$t").count()}").mkString(" "))
    }
    spark.stop()
  }
}
