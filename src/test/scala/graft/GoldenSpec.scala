package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/**
 * Golden end-to-end regression (FIXTURES.md §A3): the committed fixture
 * corpus must keep producing byte-identical entity and document_entity
 * tables. Regenerate the goldens deliberately (see git history for the
 * generator shape) when semantics change on purpose — never to make a
 * red build green.
 */
class GoldenSpec extends SparkSpec {

  private def resource(p: String): String =
    new String(Files.readAllBytes(Paths.get(s"src/test/resources/$p")), "UTF-8")

  test("fixture corpus produces the committed golden tables") {
    val out = Files.createTempDirectory("golden-check").toString
    Ingester.run(spark, Ingester.Config("src/test/resources/corpus", out))
    val entity = spark.read.parquet(s"$out/entity")

    val ent = entity
      .select("type", "text", "created_by", "num_mentions", "num_documents")
      .collect().map(_.toSeq.mkString("|")).sorted.mkString("\n") + "\n"
    assert(ent == resource("golden_entities.txt"))

    val de = spark.read.parquet(s"$out/document_entity")
      .select(col("document_id"), col("entity_id"), col("num_mentions").as("de_mentions"))
      .join(entity.select(col("entity_id"), col("text")), "entity_id")
      .join(spark.read.parquet(s"$out/document").select("document_id", "name"), "document_id")
      .select("name", "text", "de_mentions")
      .collect().map(_.toSeq.mkString("|")).sorted.mkString("\n") + "\n"
    assert(de == resource("golden_document_entity.txt"))
  }
}
