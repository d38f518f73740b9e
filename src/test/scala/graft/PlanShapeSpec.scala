package graft

import org.apache.spark.sql.functions._

import graft.operators.{SpanDedup, SuffixDedup}

/**
 * Physical-plan shape assertions for the round-8 operators (the
 * ScaleOpsSpec discipline): the scale claims in the scaladoc — "one
 * range shuffle", "no single-partition stage" — checked against the
 * actual executed plan, not just argued.
 */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 40L)
    .map(i => i -> (0 until 30).map(j => s"t${(i * 31 + j) % 97}w$j").mkString(" "))
    .toDF("doc_id", "text")

  test("SuffixDedup.duplicateSpans: one suffix range shuffle, no single-partition exchange") {
    val plan = executedPlanString(SuffixDedup.duplicateSpans(docs, "doc_id", "text",
      minLen = 5))
    assert(!plan.contains("Exchange SinglePartition"),
      "suffix dedup must not funnel through a single partition")
    val rangeShuffles = "rangepartitioning\\(sfx".r.findAllIn(plan).size
    assert(rangeShuffles >= 1,
      "the suffix sort must be a range partition on the suffix key")
  }

  test("SpanDedup.probeSpans: no single-partition exchange; probe side reuses the digest artifact") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val art = SpanDedup.corpusWindowDigests(corpus, "doc_id", "text", 5)
    val plan = executedPlanString(SpanDedup.probeSpans(batch, "doc_id", "text", art, 5))
    assert(!plan.contains("Exchange SinglePartition"))
  }

  test("ivfMutualTop1: no cross product anywhere — candidate generation is cell-bounded") {
    val l = (0L until 30L).map(i =>
      i -> (0 until 8).map(j => ((i * 7 + j) % 13).toFloat / 13f)).toDF(
      "vec_id", "embedding")
    val r = (0L until 30L).map(i =>
      (100 + i) -> (0 until 8).map(j => ((i * 11 + j) % 13).toFloat / 13f)).toDF(
      "vec_id", "embedding")
    val plan = executedPlanString(graft.operators.Similarity.ivfMutualTop1(
      l, r, "vec_id", "embedding", nLists = 4, nProbe = 2,
      fixedCentroids = Some(
        graft.operators.Similarity.portableCentroids(4, 8))))
    assert(!plan.contains("CartesianProduct"),
      "mutual-NN must never run a cartesian pass (the q195 brute form it replaces)")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "assignment/probing is a narrow array_sort — no nested-loop join at all")
    assert(!plan.contains("Exchange SinglePartition"))
  }

  test("ivfMutualTop1Beam: no cross product, navigation joins broadcast") {
    val l = (0L until 30L).map(i =>
      i -> (0 until 8).map(j => ((i * 7 + j) % 13).toFloat / 13f)).toDF(
      "vec_id", "embedding")
    val r = (0L until 30L).map(i =>
      (100 + i) -> (0 until 8).map(j => ((i * 11 + j) % 13).toFloat / 13f)).toDF(
      "vec_id", "embedding")
    val plan = executedPlanString(graft.operators.Similarity.ivfMutualTop1Beam(
      l, r, "vec_id", "embedding", nLists = 4, nProbe = 2,
      beamWidth = 2, depth = 1, degree = 2, entryCells = 1,
      fixedCentroids = Some(
        graft.operators.Similarity.portableCentroids(4, 8))))
    assert(!plan.contains("CartesianProduct"))
    // Since the distributed nav-graph build (r10 #1), the beam path
    // legitimately contains ONE BroadcastNestedLoopJoin: the exact-tier
    // all-pairs centroid ranking inside buildNavGraph — metadata-sized
    // (nLists rows broadcast against nLists rows), the same accepted
    // shape as every broadcast crossJoin in the library. Its printed
    // tree recurs wherever the cached nav frame is consumed, so assert
    // on the node SIGNATURE, not the occurrence count: every nested
    // loop must be the centroid pair join (src ≠ dst condition over the
    // centroid frame) — one over any OTHER columns means the per-vector
    // corpus path leaked into a nested loop.
    val bnljLines = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnljLines.nonEmpty &&
        bnljLines.forall(_.contains("NOT (src#")),
      s"every nested loop must be the nav-build centroid pair join; " +
        s"got:\n${bnljLines.mkString("\n")}")
    assert(!plan.contains("Exchange SinglePartition"))
    assert(plan.contains("BroadcastExchange"),
      "centroid frame and neighbor graph must broadcast")
  }

  test("ivfBeamTopK: navigation joins broadcast, no single-partition exchange") {
    val emb = (0L until 60L).map(i =>
      i -> (0 until 8).map(j => ((i * 7 + j) % 13).toFloat / 13f)).toDF(
      "vec_id", "embedding")
    val plan = executedPlanString(graft.operators.Similarity.ivfBeamTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3,
      nLists = 4, beamWidth = 2, depth = 1, degree = 2, entryCells = 1,
      fixedCentroids = Some(
        graft.operators.Similarity.portableCentroids(4, 8))))
    assert(!plan.contains("Exchange SinglePartition"))
    assert(plan.contains("BroadcastExchange"),
      "centroid/neighbor/probe sides must broadcast")
  }
}
