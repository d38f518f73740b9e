package graft

import org.apache.spark.sql.functions._

/**
 * Columnar-format coverage beyond parquet (S1/S2 widening): ORC is the
 * other Hive-ecosystem columnar format a drop-in engine meets in the
 * wild; Spark ships the reader/writer natively. Round-trips the
 * testdata documents table and checks predicate pushdown reaches the
 * ORC scan like it does parquet.
 */
class FormatSpec extends SparkSpec {

  test("ORC round-trip preserves rows, schema, and values") {
    val tmp = java.nio.file.Files.createTempDirectory("orc").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.orc(s"$tmp/docs")
    val back = spark.read.orc(s"$tmp/docs")
    assert(back.schema === docs.schema)
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = back.orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("filters push down into the ORC scan") {
    val tmp = java.nio.file.Files.createTempDirectory("orc_pd").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .write.orc(s"$tmp/docs")
    val q = spark.read.orc(s"$tmp/docs")
      .filter(col("n_chars") > 100).select("doc_id", "n_chars")
    val plan = executedPlanString(q)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(n_chars"), s"no pushdown in:\n$plan")
    assert(q.count() > 0)
  }
}
