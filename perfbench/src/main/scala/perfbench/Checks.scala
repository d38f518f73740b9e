package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.Ingester
import graft.sources.Gazetteer

/** Output checks and answer-quality figures over one ingest's artifacts. */
object Checks {

  /**
   * Order-insensitive digest of every artifact: per table the row count and
   * the exact sum of one 64-bit hash per row; for the GraphML file the line
   * count and the sum of line hashes.
   */
  def digest(spark: SparkSession, a: Artifacts): Map[String, String] = {
    val tables = a.tables.map { case (name, path) =>
      val df = spark.read.parquet(path)
      val r = df.select(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(20,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      name -> s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}"
    }
    val lines = Files.readAllLines(Paths.get(a.graphml)).asScala
    val gml = s"${lines.size}:${lines.map(l => BigInt(l.hashCode)).sum}"
    (tables :+ ("social_network.graphml" -> gml)).toMap
  }

  /** Bytes under the artifact paths. */
  def artifactBytes(a: Artifacts): Long = {
    def size(p: java.nio.file.Path): Long =
      if (!Files.exists(p)) 0L
      else if (Files.isDirectory(p)) {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      } else Files.size(p)
    a.tables.map(t => size(Paths.get(t._2))).sum + size(Paths.get(a.graphml))
  }

  final case class Entity(tpe: String, text: String, createdBy: String,
      numDocs: Long, numMentions: Long)

  /** The artifact tables and the GraphML elements, collected once for the
    * output checks, the quality figures and the brute-force serve answers. */
  final case class Tables(
      documentRows: Int,
      // document file name → document id
      docId: Map[String, Long],
      // one per mention row: (document file name, char offset, type, entity id)
      mentions: Seq[(String, Int, String, Option[Long])],
      entity: Map[Long, Entity],
      // one per row: (document id, entity id, num_mentions)
      documentEntity: Seq[(Long, Long, Long)],
      // one per row: (entity id, latitude, longitude)
      geolocation: Seq[(Long, Double, Double)],
      // GraphML nodes (entity id, label, num_docs) and edges (source,
      // target, num_docs); other lines that are not the fixed header/footer
      graphNodes: Seq[(Long, String, Long)],
      graphEdges: Seq[(Long, Long, Long)],
      graphOtherLines: Int) {
    val mentionAt: Map[(String, Int), (String, Option[Long])] =
      mentions.map { case (n, s, t, e) => (n, s) -> (t, e) }.toMap
    /** (document id, entity id) per resolved mention row. */
    val resolved: Seq[(Long, Long)] =
      mentions.collect { case (n, _, _, Some(e)) => (docId(n), e) }
    def geolocated: Set[Long] = geolocation.map(_._1).toSet
  }

  private val GraphFrame = Set(
    """<?xml version="1.0" encoding="UTF-8"?>""",
    """<graphml xmlns="http://graphml.graphdrawing.org/xmlns">""",
    """<key id="label" for="node" attr.name="label" attr.type="string"/>""",
    """<key id="num_docs" for="all" attr.name="num_docs" attr.type="int"/>""",
    """<graph edgedefault="undirected">""",
    "</graph></graphml>")
  private val NodeLine =
    """<node id="n(-?\d+)"><data key="label">(.*)</data><data key="num_docs">(\d+)</data></node>""".r
  private val EdgeLine =
    """<edge id="e\d+" source="n(-?\d+)" target="n(-?\d+)"><data key="num_docs">(\d+)</data></edge>""".r

  private def unescape(s: String): String =
    s.replace("&quot;", "\"").replace("&gt;", ">").replace("&lt;", "<").replace("&amp;", "&")

  def collect(spark: SparkSession, a: Artifacts): Tables = {
    def read(t: String) = spark.read.parquet(s"${a.outDir}/$t")
    val docName = read("document").select("document_id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val names = docName.toMap
    val mentions = read("mention")
      .select("document_id", "text_start", "type", "entity_id").collect()
      .map(r => (names(r.getLong(0)), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val entity = read("entity")
      .select("entity_id", "type", "text", "created_by", "num_documents", "num_mentions")
      .collect()
      .map(r => r.getLong(0) ->
        Entity(r.getString(1), r.getString(2), r.getString(3), r.getLong(4), r.getLong(5)))
      .toMap
    val docEntity = read("document_entity")
      .select("document_id", "entity_id", "num_mentions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val geo = read("geolocation").select("entity_id", "latitude", "longitude").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val lines = Files.readAllLines(Paths.get(a.graphml)).asScala.toSeq
    Tables(docName.length, docName.map(_.swap).toMap, mentions.toSeq, entity,
      docEntity.toSeq, geo.toSeq,
      lines.collect { case NodeLine(id, label, n) => (id.toLong, unescape(label), n.toLong) },
      lines.collect { case EdgeLine(s, d, n) => (s.toLong, d.toLong, n.toLong) },
      lines.count(l => !GraphFrame(l) && !NodeLine.matches(l) && !EdgeLine.matches(l)))
  }

  /** Gazetteer name → (latitude, longitude). */
  private val Places: Map[String, (Double, Double)] =
    Gazetteer.SampleCountries.map(e => e.name_upper -> ((e.gaz_lat, e.gaz_lon))).toMap

  /**
   * Brute-force checks of one ingest's artifacts against the generated
   * corpus; each is (what must hold, whether it does). Every derived
   * table is rebuilt from the collected mention rows:
   *  - entities: exactly the resolved mentions' entities, each with its
   *    mentions' type and count;
   *  - document_entity: the resolved (document, entity) mention counts;
   *  - geolocation: the location-coref entities whose text, less one
   *    leading dash or space, is a gazetteer name or ends with " " + one
   *    (the smallest such name), at that name's coordinates;
   *  - GraphML: nodes are the entities in at least `nodeMinDocs`
   *    documents, edges the person pairs sharing at least `edgeMinDocs`
   *    documents with both ends kept (`Ingester.Config` defaults).
   */
  def verify(g: Corpus.Generated, t: Tables): Seq[(String, Boolean)] = {
    val cfg = Ingester.Config("", "")
    val tagged = g.docs.flatMap(d =>
      BenchTagger.tag(d.text).map(m => (d.name, m.start, m.mentionType)))
    val resolvedCounts = t.resolved.groupBy(identity).toSeq
      .map { case ((d, e), v) => (d, e, v.size.toLong) }
    val typesOf = t.mentions.collect { case (_, _, tpe, Some(e)) => (e, tpe) }
      .groupBy(_._1).map { case (e, v) => e -> v.map(_._2) }

    val geocoded = t.entity.toSeq.flatMap { case (id, e) =>
      val cleaned = e.text.replaceFirst("^[- ]", "")
      val hit = Places.get(cleaned).orElse(
        Places.keys.filter(p => cleaned.endsWith(" " + p)).minOption.map(Places))
      hit.filter(_ => e.createdBy == "across_doc_location_coref").map(h => (id, h._1, h._2))
    }

    val keptNodes = t.entity.toSeq.collect {
      case (id, e) if e.numDocs >= cfg.nodeMinDocs => (id, e.text, e.numDocs)
    }
    val kept = keptNodes.map(_._1).toSet
    val person = t.entity.collect {
      case (id, e) if e.createdBy == "across_doc_person_coref" => id
    }.toSet
    val keptEdges = t.resolved.filter(m => person(m._2)).distinct.groupBy(_._1).values
      .flatMap { ms =>
        val es = ms.map(_._2).sorted
        for (i <- es.indices; j <- i + 1 until es.size) yield (es(i), es(j))
      }
      .groupBy(identity).toSeq
      .collect { case ((s, d), docs) if docs.size >= cfg.edgeMinDocs && kept(s) && kept(d) =>
        (s, d, docs.size.toLong)
      }

    Seq(
      "document table has every corpus file once" ->
        (t.documentRows == g.docs.size && t.docId.keySet == g.docs.map(_.name).toSet),
      "mention rows equal the tagger over the corpus" ->
        (t.mentions.map(m => (m._1, m._2, m._3)).sorted == tagged.sorted),
      "entities are the resolved mentions' entities, with their type and count" ->
        (t.entity.keySet == typesOf.keySet && t.entity.forall { case (id, e) =>
          typesOf(id).forall(_ == e.tpe) && typesOf(id).size == e.numMentions
        }),
      "document_entity equals the resolved mention counts" ->
        (t.documentEntity.sorted == resolvedCounts.sorted),
      "geolocation rows are the gazetteer-named location entities" ->
        (t.geolocation.sorted == geocoded.sorted),
      "GraphML nodes are the entities in enough documents" ->
        (t.graphNodes.sorted == keptNodes.sorted && t.graphOtherLines == 0),
      "GraphML edges are the person pairs sharing enough documents" ->
        (t.graphEdges.sorted == keptEdges.sorted))
  }

  private def pairs(n: Long): Long = n * (n - 1) / 2

  /**
   * Pairwise coreference precision and recall over the planted PERSON
   * mentions. A planted mention the tagger missed is its own singleton.
   * With no pairs to judge (a corpus without names) both are 1.
   */
  def corefPrecisionRecall(g: Corpus.Generated, t: Tables): (Double, Double) = {
    val labelled = g.persons.zipWithIndex.map { case (p, i) =>
      val predicted = t.mentionAt.get((p.name, p.start)).flatMap(_._2)
      (p.identity, predicted.map(Left(_)).getOrElse(Right(i)))
    }
    val tp = labelled.groupBy(identity).values.map(v => pairs(v.size.toLong)).sum
    val truePairs = labelled.groupBy(_._1).values.map(v => pairs(v.size.toLong)).sum
    val predPairs = labelled.groupBy(_._2).values.map(v => pairs(v.size.toLong)).sum
    (if (predPairs == 0) 1.0 else tp.toDouble / predPairs,
      if (truePairs == 0) 1.0 else tp.toDouble / truePairs)
  }

  /** Share of planted location identities whose entity has a geolocation;
    * 1 when none was planted. */
  def geocodeRecall(g: Corpus.Generated, t: Tables): Double = {
    val byIdentity = g.truth.filter(_.kind == "LOCATION").groupBy(_.identity)
    val hit = byIdentity.count { case (_, ms) =>
      ms.exists(m => t.mentionAt.get((m.name, m.start)).flatMap(_._2)
        .exists(t.geolocated.contains))
    }
    if (byIdentity.isEmpty) 1.0 else hit.toDouble / byIdentity.size
  }
}
