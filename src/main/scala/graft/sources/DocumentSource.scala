package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.StripAccentsUtil

/**
 * Document ingestion sources:
 *
 *  - recursive directory scan (R1 — /root/reference/src/Ingester.groovy:
 *    197-207): `binaryFile` reader with recursive lookup + glob, stable
 *    content-derived doc ids (paths sorted only at export time; order is a
 *    presentation concern, not a distribution one).
 *  - text extraction (R2 — TextExtractor.groovy:12-28): pluggable
 *    per-partition extractor; parse errors become a null text + error
 *    column, never exceptions (the reference logs-and-continues).
 *    The Tika seam is STUBBED (no Tika jar in this environment); UTF-8
 *    passthrough is the default for .txt corpora.
 *  - NER mention source (R3 — EntityExtractor.groovy:19-34): pluggable
 *    tagger applied via mapPartitions (model loaded once per partition),
 *    emitting the reference's exact CSV shape
 *    (type, start, stop, index, global_id, text). The Stanford CRF seam is
 *    STUBBED with a deterministic capitalized-run tagger that types
 *    gazetteer place names as LOCATION (the default, [[GazetteerTagger]]).
 *  - mention CSV source/sink (R4 — EntityExtractor.groovy:30,
 *    Ingester.groovy:244-251).
 */
object DocumentSource {

  /** R1: recursive scan; one row per file, id = xxhash64(relative path). */
  def scanDirectory(spark: SparkSession, root: String,
      glob: String = "*.txt"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(root)
      .select(
        xxhash64(col("path")).as("doc_id"),
        regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
        col("path"),
        col("content"))

  /** Extraction seam (R2). Implementations must be cheap to construct or
    * lazily initialize heavy state per partition. */
  trait TextExtractor extends Serializable {
    def extract(path: String, bytes: Array[Byte]): String
  }

  /** UTF-8 passthrough for plain-text corpora. */
  object Utf8Extractor extends TextExtractor {
    def extract(path: String, bytes: Array[Byte]): String =
      new String(bytes, StandardCharsets.UTF_8)
  }

  /**
   * STUB: the production implementation wraps Apache Tika exactly as the
   * reference does (TextExtractor.groovy:22-28 — `Tika().parseToString`),
   * lazily instantiated per executor. Not constructible here (no Tika jar);
   * kept to pin the seam's shape.
   */
  final class TikaExtractor extends TextExtractor {
    @transient private lazy val tika: AnyRef =
      throw new UnsupportedOperationException(
        "Tika not available in this environment; use Utf8Extractor")
    def extract(path: String, bytes: Array[Byte]): String = {
      tika; ""
    }
  }

  /** R2: bytes → text with error capture (null text + error column, never
    * an exception — the reference logs-and-continues). */
  def extractText(docs: DataFrame, extractor: TextExtractor = Utf8Extractor): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("name"), col("path"), col("content"))
      .as[(Long, String, String, Array[Byte])]
      .mapPartitions { it =>
        val ex = extractor // per-partition init point for heavy extractors
        it.map { case (id, name, path, bytes) =>
          try (id, name, path, ex.extract(path, bytes), null: String)
          catch { case e: Exception => (id, name, path, null: String, e.getMessage) }
        }
      }
      .toDF("doc_id", "name", "path", "text", "extract_error")
  }

  /** One NER hit; offsets are char positions, [start, stop). */
  case class TaggedMention(mentionType: String, start: Int, stop: Int, text: String)

  /** NER seam (R3): heavy models load lazily once per partition. */
  trait NerTagger extends Serializable {
    def tag(text: String): Seq[TaggedMention]
  }

  /**
   * Deterministic capitalized-run tagger (stand-in for the reference's
   * Stanford CRF, whose model file the reference itself does not ship —
   * .MISSING_LARGE_BLOBS). Runs of ≥1 Capitalized words → PERSON;
   * ALL-CAPS runs of ≥2 letters → ORGANIZATION.
   */
  object CapitalizedRunTagger extends NerTagger {
    private val Person = "(?:\\b\\p{Lu}\\p{Ll}+)(?: \\p{Lu}\\p{Ll}+)*".r
    private val Org = "\\b\\p{Lu}{2,}(?: \\p{Lu}{2,})*\\b".r
    def tag(text: String): Seq[TaggedMention] = {
      val persons = Person.findAllMatchIn(text).map(m =>
        TaggedMention("PERSON", m.start, m.end, m.matched)).toSeq
      val orgs = Org.findAllMatchIn(text).map(m =>
        TaggedMention("ORGANIZATION", m.start, m.end, m.matched)).toSeq
      (persons ++ orgs).sortBy(_.start)
    }
  }

  /**
   * The default tagger: [[CapitalizedRunTagger]], except that a run whose
   * accent-stripped, upper-cased text is a [[Gazetteer.SampleCountries]]
   * name becomes LOCATION. The reference's 3-class Stanford CRF tags
   * places as LOCATION (EntityExtractor.groovy:19-34), and the location
   * coref pass and the geocoder read only LOCATION mentions, so without
   * this rule a run never geocodes.
   */
  object GazetteerTagger extends NerTagger {
    private val Places: Set[String] = Gazetteer.SampleCountries.map(_.name_upper).toSet

    private def key(text: String): String =
      StripAccentsUtil.strip(UTF8String.fromString(text)).toString.toUpperCase

    def tag(text: String): Seq[TaggedMention] =
      CapitalizedRunTagger.tag(text).map { m =>
        if (Places.contains(key(m.text))) m.copy(mentionType = "LOCATION") else m
      }
  }

  /**
   * STUB seam for the Stanford CRF tagger (EntityExtractor.groovy:13,23:
   * `CRFClassifier.getClassifier(model)` once, then
   * `classifyToCharacterOffsets` per doc). The lazy val IS the
   * once-per-partition load point.
   */
  final class CrfNerTagger(modelPath: String) extends NerTagger {
    @transient private lazy val model: AnyRef =
      throw new UnsupportedOperationException(
        s"CRF model $modelPath not available; use GazetteerTagger")
    def tag(text: String): Seq[TaggedMention] = { model; Nil }
  }

  /**
   * R3: docs(doc_id, text) → mention rows in the reference CSV shape plus
   * ids. NBSP fixup applied to types as in EntityExtractor.groovy:24-25.
   * flatMap shape: 1 doc → n mentions (a Generator in Catalyst terms).
   */
  def extractMentions(docs: DataFrame, tagger: NerTagger = GazetteerTagger): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tagged = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val t = tagger // per-partition init point
        it.flatMap { case (docId, text) =>
          if (text == null) Iterator.empty
          else t.tag(text).iterator.zipWithIndex.map { case (m, idx) =>
            (docId, m.mentionType.replace(' ', ' '), m.start, m.stop,
              idx, null.asInstanceOf[String], m.text)
          }
        }
      }
      .toDF("doc_id", "mention_type", "text_start", "text_stop",
        "mention_index", "global_id", "text")
    tagged.withColumn("mention_id",
      xxhash64(col("doc_id"), col("mention_index")))
  }

  /** Reference mention-CSV schema (EntityExtractor.groovy:30). */
  val MentionCsvSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("start", IntegerType),
    StructField("stop", IntegerType),
    StructField("index", IntegerType),
    StructField("global_id", StringType),
    StructField("text", StringType)))

  /** R4 sink: one directory of csv part files per corpus. */
  def writeMentionCsv(mentions: DataFrame, path: String): Unit =
    mentions.select(
      col("mention_type").as("type"), col("text_start").as("start"),
      col("text_stop").as("stop"), col("mention_index").as("index"),
      col("global_id"), col("text"), col("doc_id"))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** R4 source: read back what writeMentionCsv produced. */
  def readMentionCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema(MentionCsvSchema.add(StructField("doc_id", LongType)))
      .csv(path)
      .select(col("doc_id"),
        xxhash64(col("doc_id"), col("index")).as("mention_id"),
        col("type").as("mention_type"), col("start").as("text_start"),
        col("stop").as("text_stop"), col("index").as("mention_index"),
        col("global_id"), col("text"))
}
