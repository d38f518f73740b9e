package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExtensionsBridge

import graft.plans.{BoundedLevenshteinRule, GraftExtensions}

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  // RDD-backed (not a LocalRelation): ConvertToLocalRelation would
  // otherwise fold the filter away before the rule can be observed.
  private lazy val pairs = {
    val local = Seq(
      ("abc", "abc"),   // distance 0
      ("abc", "abd"),   // 1
      ("abc", "ab"),    // 1
      ("abc", "xbz"),   // 2
      ("abcdef", "uvwxyz"), // 6
      (null, "abc"))    // null -> comparison null -> filtered out
      .toDF("a", "b")
    spark.createDataFrame(local.rdd, local.schema)
  }

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BoundedLevenshteinRule
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == BoundedLevenshteinRule)
  }

  test("bounded-levenshtein rule rewrites the plan and preserves results") {
    val expected = pairs.filter(levenshtein(col("a"), col("b")) <= 1)
      .as[(String, String)].collect().toSet
    assert(expected == Set(("abc", "abc"), ("abc", "abd"), ("abc", "ab")))

    withRule {
      val df = pairs.filter(levenshtein(col("a"), col("b")) <= 1)
      val levs = df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
        case l: Levenshtein => l
      })
      assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
        "comparison must be rewritten to the bounded 3-arg form")
      assert(df.as[(String, String)].collect().toSet == expected)

      // Strict < lowers the bound by one.
      val lt = pairs.filter(levenshtein(col("a"), col("b")) < 2)
      val ltLev = lt.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
        case l: Levenshtein => l
      })
      assert(ltLev.forall(_.threshold.isDefined))
      assert(lt.as[(String, String)].collect().toSet == expected)

      // A bare projection of levenshtein (no comparison) is untouched.
      val proj = pairs.select(levenshtein(col("a"), col("b")).as("d"))
      val projLev = proj.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
        case l: Levenshtein => l
      })
      assert(projLev.nonEmpty && projLev.forall(_.threshold.isEmpty))
    }
  }

  test("the shared session runs the bounded-levenshtein rule without opting in") {
    val df = pairs.filter(levenshtein(col("a"), col("b")) <= 2)
    val levs = df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case l: Levenshtein => l
    })
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      "the session's optimizer must rewrite to the bounded 3-arg form")
  }

  test("the shared session resolves strip_accents without registerAll") {
    assert(spark.sql("SELECT strip_accents('é')").as[String].head() == "e")
    // A sibling session carries the same extensions but none of the temp
    // functions another suite may have registered on this one.
    assert(spark.newSession().sql("SELECT strip_accents('é')").as[String].head() == "e")
  }

  test("GraftExtensions registers the optimizer rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(ExtensionsBridge.optimizerRules(ext, spark)
      .contains(BoundedLevenshteinRule))
  }
}
