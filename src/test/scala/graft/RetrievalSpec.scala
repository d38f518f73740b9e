package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/**
 * Retrieval.rrfFuse vs a sequential integer reference: accumulation
 * across systems, per-query identities, exact integer contributions,
 * and the refusal cases.
 */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def contrib(rank: Int, k: Int = 60, scale: Long = 1000000L): Long =
    scale / (k + rank)

  test("two-system fusion == sequential reference (overlap accumulates)") {
    // system A ranks docs 1..4, system B ranks 3..6 — 3 and 4 overlap
    val a = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4)).toDF("id", "rank")
    val b = Seq((3L, 1), (4L, 2), (5L, 3), (6L, 4)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), idCols = Seq("id"))
      .as[(Long, Long, Int, Long)].collect()
      .map { case (id, n, br, s) => id -> ((n, br, s)) }.toMap

    val ref = Map(
      1L -> ((1L, 1, contrib(1))),
      2L -> ((1L, 2, contrib(2))),
      3L -> ((2L, 1, contrib(3) + contrib(1))),
      4L -> ((2L, 2, contrib(4) + contrib(2))),
      5L -> ((1L, 3, contrib(3))),
      6L -> ((1L, 4, contrib(4))))
    assert(got === ref)
  }

  test("per-query fusion keys on (q, id) — queries never mix") {
    val a = Seq((10L, 1L, 1), (10L, 2L, 2), (20L, 1L, 1)).toDF("q", "id", "rank")
    val b = Seq((10L, 2L, 1), (20L, 3L, 1)).toDF("q", "id", "rank")
    val got = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), idCols = Seq("q", "id"))
      .as[(Long, Long, Long, Int, Long)].collect()
      .map { case (q, id, n, br, s) => (q, id) -> ((n, br, s)) }.toMap
    val ref = Map(
      (10L, 1L) -> ((1L, 1, contrib(1))),
      (10L, 2L) -> ((2L, 1, contrib(2) + contrib(1))),
      (20L, 1L) -> ((1L, 1, contrib(1))),
      (20L, 3L) -> ((1L, 1, contrib(1))))
    assert(got === ref)
  }

  test("custom k and scale flow into the exact integer contribution") {
    val a = Seq((1L, 1), (2L, 7)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq("a" -> a), idCols = Seq("id"), k = 0,
        scale = 840L)
      .select(col("id"), col("rrf_micro")).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 840L, 2L -> 120L))
  }

  test("refusals: empty input, duplicate system names") {
    val a = Seq((1L, 1)).toDF("id", "rank")
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty, idCols = Seq("id"))
    }
    val dup = intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq("a" -> a, "a" -> a), idCols = Seq("id"))
    }
    assert(dup.getMessage.contains("duplicate system names"))
  }

  test("a null or sub-1 rank raises instead of skewing the fusion") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // null rank: would bump n_systems while sum() skipped it
    val withNull = Seq((1L, Some(1)), (2L, None)).toDF("id", "rank")
    val e1 = intercept[Exception] {
      Retrieval.rrfFuse(Seq("a" -> withNull), idCols = Seq("id")).collect()
    }
    assert(messages(e1).exists(_.contains("1-based")), s"got $e1")
    // rank 0 with k = 0: would null the division
    val zero = Seq((1L, 0)).toDF("id", "rank")
    val e2 = intercept[Exception] {
      Retrieval.rrfFuse(Seq("a" -> zero), idCols = Seq("id"), k = 0).collect()
    }
    assert(messages(e2).exists(_.contains("1-based")), s"got $e2")
    // a non-int-castable rank string nulls through the cast — caught too
    val bad = Seq((1L, "not-a-rank")).toDF("id", "rank")
    val e3 = intercept[Exception] {
      Retrieval.rrfFuse(Seq("a" -> bad), idCols = Seq("id")).collect()
    }
    assert(messages(e3).exists(m =>
      m.contains("1-based") || m.contains("CAST_INVALID_INPUT")), s"got $e3")
  }

  test("fusion is one union + one aggregate — no join, no cartesian") {
    val a = Seq((1L, 1)).toDF("id", "rank")
    val b = Seq((2L, 1)).toDF("id", "rank")
    val plan = executedPlanString(
      Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), idCols = Seq("id")))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Join"))
  }
}
