package graft

/**
 * Battery-wide physical-plan sweep: NO declared query may plan a
 * CartesianProduct — the unbroadcast all-pairs shuffle that turns any
 * 100 TB input into |L|×|R| work. Broadcast nested-loop joins are NOT
 * banned here: a `crossJoin(broadcast(oneRowTotals))` (the totals /
 * centroid / quota pattern used throughout) plans as BNLJ with a
 * bounded build side and is scale-safe; the battery's per-operator
 * specs (PlanShapeSpec) assert the stricter no-BNLJ shape where an
 * operator's contract forbids even that.
 *
 * Building `executedPlan` drives each query's CONSTRUCTION (including
 * driver-side iteration some builders do — BPE's merge loop, PageRank's
 * rounds) at smoke scale, so this is also an everything-still-builds
 * sweep over all declared queries.
 */
class BatteryPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** What Spark appends to a plan string it cut at the length cap. */
  private val truncationMarker = "\\.\\.\\. \\d+ more characters".r

  test("no declared query plans a CartesianProduct at any scale") {
    // (name, truncated, cartesian) per query; a plan cut at the session's
    // plan-string cap would pass the negative check without being read to
    // the end.
    val checked = SparkEntry.allQueries.map { q =>
      val plan = executedPlanString(q.fn(spark, dir))
      (q.name, truncationMarker.findFirstIn(plan).isDefined,
        plan.contains("CartesianProduct"))
    }
    val truncated = checked.collect { case (name, true, _) => name }
    assert(truncated.isEmpty, s"truncated plan strings: ${truncated.mkString(", ")}")
    val offenders = checked.collect { case (name, _, true) => name }
    assert(offenders.isEmpty,
      s"cartesian plans in the battery: ${offenders.mkString(", ")}")
  }
}
