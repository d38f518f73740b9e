package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{DocumentSource, XmlCorpusSource}

/** End-to-end pipeline over a fixture corpus (FIXTURES.md §A). */
class IngesterSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixtureCorpus(): String = {
    val root = Files.createTempDirectory("graft-corpus")
    val sub = Files.createDirectory(root.resolve("nested"))
    def put(dir: java.nio.file.Path, name: String, text: String): Unit =
      Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    // Overlapping people incl. an OCR-style near-duplicate and an accent.
    put(root, "d1.txt",
      "John Smith met Alice Jones in Bogota. John Smith spoke. ACME hired John.")
    put(root, "d2.txt",
      "John Smith and Alice Jones travelled to Venezuela with José Núñez.")
    put(sub, "d3.txt",
      "John Smitb visited ACME. Alice Jones stayed home.")
    put(root, "d4.txt",
      "Nobody here but lowercase words and 04 38 22 73 04 51 coordinates.")
    root.toString
  }

  /** Runs `body` with a job listener and a plan listener attached and
    * returns (jobs, `binaryFile` scan nodes) over every plan it executed,
    * walking adaptive query stages, reused exchanges and cached relations. */
  private def countCorpusScans(body: => Unit): (Long, Long) = {
    val sc = spark.sparkContext
    val jobs, scans = new AtomicLong
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        def walk(p: SparkPlan): Long = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
          case f: FileSourceScanExec =>
            if (f.relation.fileFormat.isInstanceOf[BinaryFileFormat]) 1L else 0L
          case other => (other.children ++ other.subqueries).map(walk).sum
        }
        scans.addAndGet(walk(qe.executedPlan))
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.waitUntilListenerBusEmpty(sc, 60000L)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      body
      ListenerBridge.waitUntilListenerBusEmpty(sc, 60000L)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    (jobs.get, scans.get)
  }

  /** One `Ingester.run` over the fixture corpus, shared by the tests that
    * read its output directory: (outputDir, jobs, binaryFile scan nodes). */
  private lazy val fixtureRun: (String, Long, Long) = {
    val in = writeFixtureCorpus()
    val out = Files.createTempDirectory("graft-out").toString
    val (jobs, scans) = countCorpusScans(Ingester.run(spark, Ingester.Config(in, out)))
    (out, jobs, scans)
  }

  test("Ingester.run: corpus → entities, social network, exports") {
    val (out, _, _) = fixtureRun

    assert(spark.read.parquet(s"$out/document").count() == 4)

    // The three John Smith variants (incl. OCR near-dup Smitb) coref to one
    // across-doc entity over 3 docs; Alice Jones over 3 docs.
    val entity = spark.read.parquet(s"$out/entity")
    val across = entity
      .filter(col("created_by") === "across_doc_person_coref")
      .select("text", "num_documents")
      .as[(String, Long)].collect().toMap
    assert(across("JOHN SMITH") == 3L)
    assert(across("ALICE JONES") == 3L)

    // Social edge JOHN SMITH — ALICE JONES with num_docs = 3, as exported.
    val gml = new String(Files.readAllBytes(Paths.get(s"$out/social_network.graphml")), "UTF-8")
    val nodeIds = entity.filter(col("text").isin("JOHN SMITH", "ALICE JONES"))
      .filter(col("created_by").startsWith("across"))
      .select("entity_id").as[Long].collect().map(id => s"n$id").toSet
    val theEdge = """<edge id="e\d+" source="(n\d+)" target="(n\d+)"><data key="num_docs">(\d+)<""".r
      .findAllMatchIn(gml)
      .filter(m => nodeIds(m.group(1)) && nodeIds(m.group(2)))
      .map(_.group(3).toLong).toSeq
    assert(nodeIds.size == 2 && theEdge == Seq(3L))

    // Exports exist and reload.
    val mention = spark.read.parquet(s"$out/mention")
    assert(mention.count() > 0)
    // Unresolved mentions keep NULL entity_id (left-outer semantics, R21).
    assert(mention.filter(col("entity_id").isNull).count() >= 0)
    assert(entity.filter(col("type") === "PERSON").count() > 0)
    assert(gml.contains("<node id=") && gml.contains("<edge id="))
    assert(gml.contains("JOHN SMITH"))
  }

  test("Ingester.run scans the corpus exactly once per extract-stage write") {
    // The documents and mention_raw checkpoints each scan the corpus once;
    // every later stage reads checkpoints, never the corpus.
    val (_, jobs, scans) = fixtureRun
    info(s"Ingester.run on the fixture corpus: $jobs jobs, $scans binaryFile scan nodes")
    assert(scans == 2L, s"expected 2 binaryFile scan nodes, executed $scans")
  }

  test("pipeline positional artifact serves phrase search == a direct build (VERDICT r12 #5)") {
    val (out, _, _) = fixtureRun
    assert(Files.exists(Paths.get(s"$out/search_index_positional")),
      "step 9b must write the positional artifact")
    val fromPipeline = graft.sinks.SearchIndex.searchPhraseSloppy(
        spark, s"$out/search_index_positional", Seq("John", "Smith"),
        slop = 0)
      .as[(Long, Long)].collect().toMap
    val direct = Files.createTempDirectory("graft-pos-direct").toString
    graft.sinks.SearchIndex.write(
      graft.sinks.SearchIndex.buildPositional(
        spark.read.parquet(s"$out/documents"), "doc_id", "text", nDocShards = 32),
      direct)
    val fromDirect = graft.sinks.SearchIndex.searchPhraseSloppy(
        spark, direct, Seq("John", "Smith"), slop = 0)
      .as[(Long, Long)].collect().toMap
    assert(fromPipeline === fromDirect && fromPipeline.nonEmpty)
    // the fixture really phrase-matches: d1 twice, d2 once
    assert(fromPipeline.values.sum == 3L)
  }

  test("GraphML export guard trips before streaming an oversized network") {
    import graft.sinks.GraphML
    val nodes = spark.range(0, 100)
      .selectExpr("id AS entity_id", "concat('E', id) AS entity_text",
        "id AS num_docs")
    val edges = spark.range(0, 50)
      .selectExpr("id AS src_entity_id", "id + 1 AS dst_entity_id",
        "CAST(2 AS BIGINT) AS num_docs")
    val path = Files.createTempDirectory("gml-guard").toString + "/g.graphml"
    val e = intercept[IllegalArgumentException] {
      GraphML.write(nodes, edges, path, maxRows = 100)
    }
    assert(e.getMessage.contains("100 nodes + 50 edges"),
      s"guard message should carry the counts: ${e.getMessage}")
    assert(!Files.exists(Paths.get(path)),
      "guard must trip BEFORE the file is opened")
    // Under the limit (and with the guard disabled) the writer works.
    GraphML.write(nodes, edges, path, maxRows = 200)
    assert(Files.exists(Paths.get(path)))
  }

  test("sharded GraphML export handles above-maxRows networks with byte-stable shards") {
    import graft.sinks.GraphML
    // 500 + 300 rows — over the single-file guard this spec uses (100),
    // which is exactly the population the sharded path exists for. The
    // labels carry every XML metacharacter the escaper must handle.
    val nodes = spark.range(0, 500).selectExpr("id AS entity_id",
      """concat('E<', id, '> & "q"') AS entity_text""", "id AS num_docs")
    val edges = spark.range(0, 300).selectExpr("id AS src_entity_id",
      "id + 1 AS dst_entity_id", "CAST(2 AS BIGINT) AS num_docs")
    val d1 = Files.createTempDirectory("gml-shard1").toString
    val d2 = Files.createTempDirectory("gml-shard2").toString
    GraphML.writeSharded(nodes, edges, d1, shards = 4)
    GraphML.writeSharded(nodes, edges, d2, shards = 4)
    def ordered(dir: String): Seq[String] = {
      val idx = new String(Files.readAllBytes(Paths.get(s"$dir/index.json")), "UTF-8")
      "\"([^\"]+)\"".r.findAllMatchIn(idx).map(_.group(1)).toSeq
        .filter(_ != "order")
    }
    def assemble(dir: String): String =
      ordered(dir).map(p =>
        new String(Files.readAllBytes(Paths.get(s"$dir/$p")), "UTF-8"))
        .mkString
    val doc1 = assemble(d1)
    // Byte-stable: two runs over the same input produce identical
    // assembled bytes (hash partitioning + sortWithinPartitions +
    // content-derived edge ids — nothing samples or sequence-numbers).
    assert(doc1 == assemble(d2), "sharded export must be deterministic")
    // Shard-level too: i-th node/edge part content matches across runs.
    def partBytes(dir: String): Seq[(String, String)] =
      ordered(dir).filter(_.contains("part-")).map(p =>
        (p.takeWhile(_ != '/'),
          new String(Files.readAllBytes(Paths.get(s"$dir/$p")), "UTF-8")))
    assert(partBytes(d1) == partBytes(d2), "per-shard content must be stable")
    // The assembled document is well-formed XML with everything present.
    val parsed = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(doc1.getBytes("UTF-8")))
    assert(parsed.getElementsByTagName("node").getLength == 500)
    assert(parsed.getElementsByTagName("edge").getLength == 300)
    assert(doc1.contains("&lt;") && doc1.contains("&amp;") &&
      doc1.contains("&quot;"), "metacharacters must be escaped")
    // Edge ids are content-derived and unique.
    assert(doc1.contains("""<edge id="e0_1" source="n0" target="n1">"""))
  }

  test("per-step stages over parquet checkpoints reproduce the full run") {
    val in = writeFixtureCorpus()
    val out = Files.createTempDirectory("graft-run-out").toString
    val resumed = Files.createTempDirectory("graft-resumed-out").toString

    // The place tagger feeds all three entity types through coref; a
    // second Venezuela doc makes it an across-doc location, so the
    // geolocation table has rows to compare.
    Files.write(Paths.get(in, "d5.txt"),
      "Maria Lopez flew from Bogota to Venezuela.".getBytes("UTF-8"))
    Ingester.run(spark, Ingester.Config(in, out, tagger = IngesterSpec.PlaceTagger))

    // The reference's `--coref-only` workflow: a finished run's output
    // directory holds the stage checkpoints, so the later stages re-run
    // over it, here exporting into a fresh directory.
    Ingester.corefStage(spark, out)
    Ingester.geocodeStage(spark, out)
    Ingester.exportStage(spark, out, resumed,
      Ingester.Config(in, resumed, tagger = IngesterSpec.PlaceTagger))

    // The resumed artifacts equal the run's row for row (as multisets:
    // exceptAll empty both ways).
    for (table <- Seq("entity", "mention", "document_entity", "geolocation")) {
      val again = spark.read.parquet(s"$resumed/$table")
      val first = spark.read.parquet(s"$out/$table")
      assert(again.count() > 0 && first.count() > 0, s"$table: empty artifact proves nothing")
      assert(again.exceptAll(first).isEmpty && first.exceptAll(again).isEmpty,
        s"$table: resumed and full-run rows differ")
    }
    def graphml(dir: String): Seq[String] =
      Files.readAllLines(Paths.get(s"$dir/social_network.graphml")).asScala.toSeq
    assert(graphml(resumed) == graphml(out))
    val across = spark.read.parquet(s"$resumed/entity")
      .filter(col("created_by") === "across_doc_person_coref")
      .select("text", "num_documents").as[(String, Long)].collect().toMap
    assert(across("JOHN SMITH") == 3L && across("ALICE JONES") == 3L)
  }

  test("search-index artifact: bucket-pruned lookup serves conjunctive search") {
    import graft.sinks.SearchIndex
    val docs = Seq(
      (1L, "spark shuffles data between query stages"),
      (2L, "query planning in spark uses catalyst rules"),
      (3L, "duckdb runs the oracle query for every test"),
      (4L, "spark query spark query spark")) // repeated terms -> tf counts
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-index").toString + "/search_index"
    SearchIndex.write(SearchIndex.build(docs, "doc_id", "text"), dir)

    // Conjunctive AND search from the artifact == direct computation.
    val hits = SearchIndex.searchConjunctive(spark, dir, Seq("spark", "query"))
      .as[(Long, Long)].collect().toMap
    assert(hits.keySet == Set(1L, 2L, 4L), "docs containing ALL terms")
    assert(hits(4L) == 5L, "score = total tf of the query terms (3+2)")
    assert(hits(1L) == 2L && hits(2L) == 2L)

    // The scan must prune to the queried terms' bucket partitions before
    // reading rows — that's the artifact's 100 TB story.
    val plan = SearchIndex.lookup(spark, dir, Seq("spark", "query"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"expected bucket partition pruning in:\n$plan")

    // df/postings agree with first principles.
    val sparkRow = SearchIndex.lookup(spark, dir, Seq("spark"))
      .select(col("df"), col("tf_total")).as[(Long, Long)].collect().head
    assert(sparkRow == ((3L, 5L)), "spark: df=3 docs, tf_total=5 occurrences")
  }

  test("positional index artifact: phrase and proximity search, pruned scan") {
    import graft.sinks.SearchIndex
    val docs = Seq(
      (1L, "big data big data big"), // "big data" at 0-1 and 2-3
      (2L, "big query data"),        // ordered within slop 1, not adjacent
      (3L, "data big"))              // reversed only — never matches
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-pindex").toString + "/pos_index"
    SearchIndex.write(SearchIndex.buildPositional(docs, "doc_id", "text"), dir)
    val exact = SearchIndex.searchPhrase(spark, dir, Seq("big", "data"))
      .as[(Long, Long)].collect().toMap
    assert(exact === Map(1L -> 2L), "slop 0 = exact adjacent phrase")
    val prox = SearchIndex.searchPhrase(spark, dir, Seq("big", "data"), slop = 1)
      .as[(Long, Long)].collect().toMap
    assert(prox === Map(1L -> 2L, 2L -> 1L), "per-gap slop 1 admits one skip")
    val tri = SearchIndex.searchPhrase(spark, dir, Seq("big", "data", "big"))
      .as[(Long, Long)].collect().toMap
    assert(tri === Map(1L -> 2L), "3-term chain incl. a repeated term")
    // The positional artifact shares build()'s bucket layout, so the
    // pruned-scan story holds for phrase queries too.
    val plan = SearchIndex.lookup(spark, dir, Seq("big"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"))
  }

  test("total-movement sloppy phrase == alignment enumeration; transpositions at slop 2") {
    import graft.sinks.SearchIndex
    val docs = Seq(
      (1L, "big data rocks"),          // exact phrase
      (2L, "data big"),                // transposed — movement 2
      (3L, "big stuff data"),          // one gap — movement 1
      (4L, "big big data data"),       // repeats: distinct-position rule
      (5L, "data only here"))          // never matches (no 'big')
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-sloppy").toString + "/ix"
    SearchIndex.write(SearchIndex.buildPositional(docs, "doc_id", "text"), dir)

    // Sequential reference: enumerate every alignment (one position per
    // slot, distinct positions for equal-term slots), keep those whose
    // adjusted positions span <= slop.
    def ref(terms: Seq[String], slop: Int): Map[Long, Long] = {
      val toks = Map(1L -> "big data rocks", 2L -> "data big",
        3L -> "big stuff data", 4L -> "big big data data",
        5L -> "data only here").view.mapValues(_.split(" ").toSeq).toMap
      toks.flatMap { case (id, ts) =>
        val occ = terms.map(t => ts.indices.filter(ts(_) == t))
        def go(i: Int, picked: List[Int]): Long =
          if (i == terms.size) {
            val pps = picked.reverse.zipWithIndex.map { case (p, s) => p - s }
            if (pps.max - pps.min <= slop) 1L else 0L
          } else occ(i).map { p =>
            val dup = picked.reverse.zipWithIndex.exists { case (q, j) =>
              terms(j) == terms(i) && q == p }
            if (dup) 0L else go(i + 1, p :: picked)
          }.sum
        val n = go(0, Nil)
        if (n > 0) Some(id -> n) else None
      }
    }
    def got(terms: Seq[String], slop: Int): Map[Long, Long] =
      SearchIndex.searchPhraseSloppy(spark, dir, terms, slop)
        .as[(Long, Long)].collect().toMap
    for ((terms, slop) <- Seq(
        (Seq("big", "data"), 0), (Seq("big", "data"), 1),
        (Seq("big", "data"), 2), (Seq("data", "big"), 2),
        (Seq("big", "data", "rocks"), 0),
        (Seq("big", "big", "data"), 2),   // repeated term in the query
        (Seq("big", "data", "rocks"), 3)))
      assert(got(terms, slop) === ref(terms, slop), s"$terms ~$slop")
    // The Lucene acceptance the per-gap form can't see: doc 2's
    // transposed "data big" matches ["big","data"]~2…
    assert(got(Seq("big", "data"), 2).contains(2L))
    // …and is invisible to the per-gap chain at the same slop.
    assert(!SearchIndex.searchPhrase(spark, dir, Seq("big", "data"), slop = 2)
      .as[(Long, Long)].collect().toMap.contains(2L))
    // slop 0 == the exact-phrase chain.
    assert(got(Seq("big", "data"), 0) ===
      SearchIndex.searchPhrase(spark, dir, Seq("big", "data"), slop = 0)
        .as[(Long, Long)].collect().toMap)
  }

  test("doc-sharded index == unsharded: search parity, bounded rows, shard df sums") {
    import graft.sinks.SearchIndex
    // 40 docs all containing the stop word "the" plus varied content —
    // the df ≈ corpus regime the shard key exists for (VERDICT r11 #1).
    val docs = (1L to 40L).map(i =>
      (i, s"the doc$i data the value${i % 7} the common term${i % 3}"))
      .toDF("doc_id", "text")
    val flatDir = Files.createTempDirectory("graft-flat").toString + "/ix"
    val shardDir = Files.createTempDirectory("graft-shard").toString + "/ix"
    SearchIndex.write(SearchIndex.build(docs, "doc_id", "text"), flatDir)
    SearchIndex.write(
      SearchIndex.build(docs, "doc_id", "text", nDocShards = 8), shardDir)

    // Per-row postings are bounded: the stop word's 40 docs span shards…
    val stopRows = SearchIndex.lookup(spark, shardDir, Seq("the"))
      .select(col("doc_shard"), col("df"), size(col("postings")).as("len"))
      .as[(Int, Long, Int)].collect()
    assert(stopRows.length > 1, "a df=40 term must span multiple shard rows")
    assert(stopRows.forall { case (_, df, len) => len.toLong == df && len < 40 })
    // …and shard-local df sums to the unsharded (global) df.
    val flatDf = SearchIndex.lookup(spark, flatDir, Seq("the"))
      .select(col("df")).as[Long].collect().head
    assert(stopRows.map(_._2).sum === flatDf && flatDf === 40L)

    // Conjunctive search is shard-agnostic: identical result maps.
    val terms = Seq("the", "common")
    val flatHits = SearchIndex.searchConjunctive(spark, flatDir, terms)
      .as[(Long, Long)].collect().toMap
    val shardHits = SearchIndex.searchConjunctive(spark, shardDir, terms)
      .as[(Long, Long)].collect().toMap
    assert(shardHits === flatHits && flatHits.nonEmpty)

    // Positional face: phrase search parity under sharding too.
    val pFlat = Files.createTempDirectory("graft-pflat").toString + "/ix"
    val pShard = Files.createTempDirectory("graft-pshard").toString + "/ix"
    SearchIndex.write(
      SearchIndex.buildPositional(docs, "doc_id", "text"), pFlat)
    SearchIndex.write(
      SearchIndex.buildPositional(docs, "doc_id", "text", nDocShards = 8),
      pShard)
    val phFlat = SearchIndex.searchPhrase(spark, pFlat, Seq("the", "common"))
      .as[(Long, Long)].collect().toMap
    val phShard = SearchIndex.searchPhrase(spark, pShard, Seq("the", "common"))
      .as[(Long, Long)].collect().toMap
    assert(phShard === phFlat && phFlat.nonEmpty)
  }

  test("mention CSV round-trip preserves the reference schema") {
    val docs = Seq((1L, "Ana Diaz met Bob Roe.")).toDF("doc_id", "text")
    val mentions = DocumentSource.extractMentions(docs)
    val tmp = Files.createTempDirectory("graft-csv").toString + "/mentions"
    DocumentSource.writeMentionCsv(mentions, tmp)
    val back = DocumentSource.readMentionCsv(spark, tmp)
    assert(back.count() == mentions.count())
    val cols = back.columns.toSet
    assert(Set("doc_id", "mention_id", "mention_type", "text_start",
      "text_stop", "mention_index", "global_id", "text").subsetOf(cols))
    // Offsets recover the surface form (R51).
    val row = back.filter(col("text") === "Ana Diaz")
      .select("text_start", "text_stop").as[(Int, Int)].head()
    assert("Ana Diaz met Bob Roe.".substring(row._1, row._2) == "Ana Diaz")
  }

  test("XML annotated corpus → (token, tag) rows") {
    val xml =
      """<DOC><TEXT>El senador <PERSON>Juan Perez</PERSON> visito
        |<LOCATION>Bogota</LOCATION> el <DATE>12 de enero de 2005</DATE>.</TEXT></DOC>""".stripMargin
    val rows = XmlCorpusSource.tokenTagRows(Seq((7L, xml)).toDF("doc_id", "text"))
      .select("token", "tag").as[(String, String)].collect()
    assert(rows.contains(("Juan", "PERSON")) && rows.contains(("Perez", "PERSON")))
    assert(rows.contains(("Bogota", "LOCATION")))
    assert(rows.contains(("de", "DATE")))
    assert(rows.contains(("El", "O")) && rows.contains(("senador", "O")))
  }

  test("geocoder chain: coordinates beat gazetteer; sentinel dropped") {
    val ents = Seq(
      (1L, "LOCATION", "04 38 22 73 04 51", "across_doc_location_coref", 1L, 1L),
      (2L, "LOCATION", "VENEZUELA", "across_doc_location_coref", 1L, 1L),
      (3L, "LOCATION", "NOWHERE AT ALL", "across_doc_location_coref", 1L, 1L),
      (4L, "LOCATION", "CIUDAD DE MEXICO", "across_doc_location_coref", 1L, 1L))
      .toDF("entity_id", "entity_type", "entity_text", "created_by",
        "num_mentions", "num_docs")
    val geo = graft.operators.Geocode.run(ents,
      graft.sources.Gazetteer.countries(spark))
    val bySrc = geo.select("entity_id", "source", "latitude", "longitude")
      .as[(Long, String, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(bySrc(1L)._2 == "COORDINATES")
    assert(math.abs(bySrc(1L)._3 - 4.6394444444) < 1e-6)
    assert(bySrc(2L)._2 == "GAZETTEER" && bySrc(2L)._3 == 8.0)
    assert(!bySrc.contains(3L))
    assert(bySrc(4L)._2 == "GAZETTEER_SUFFIX" && bySrc(4L)._4 == -102.0)

    // Gazetteer hits populate the full geolocation enrichment
    // (bbox, osm_type, country, nga_designation); literal-coordinate
    // hits carry none (the reference only enriches via OSM).
    val enrich = geo.select("entity_id", "latitude_south", "latitude_north",
      "longitude_west", "longitude_east", "osm_type", "country", "nga_designation")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(enrich(1L).isNullAt(1) && enrich(1L).isNullAt(5) && enrich(1L).isNullAt(6))
    assert(enrich(2L).getDouble(1) == 6.0 && enrich(2L).getDouble(2) == 10.0)
    assert(enrich(2L).getDouble(3) == -68.0 && enrich(2L).getDouble(4) == -64.0)
    assert(enrich(2L).getString(5) == "administrative")
    assert(enrich(2L).getString(6) == "ve")
    assert(enrich(2L).getString(7) == "PCLI")
    assert(enrich(4L).getString(6) == "mx" && enrich(4L).getDouble(1) == 21.0)
  }
}

object IngesterSpec {
  /** CapitalizedRunTagger with the fixture's two place names as LOCATION. */
  object PlaceTagger extends DocumentSource.NerTagger {
    def tag(text: String): Seq[DocumentSource.TaggedMention] =
      DocumentSource.CapitalizedRunTagger.tag(text).map { m =>
        if (Set("Bogota", "Venezuela")(m.text)) m.copy(mentionType = "LOCATION") else m
      }
  }
}
