package graft

import scala.util.Random

import graft.operators.TextAnalysis

/**
 * statProfile: the exact form (q88's oracle-checkable shape) vs the
 * approx_percentile form (the 100 TB path — mergeable constant-memory
 * sketch). On a known distribution the approx quantile's RANK error is
 * bounded by n / accuracy; over uniform 1..n values rank error maps 1:1 to
 * value error, so the bound is directly assertable.
 */
class StatProfileSpec extends SparkSpec {
  import spark.implicits._

  // Three groups of shuffled uniform values 1..n (distinct sizes), plus a
  // singleton and a constant-valued group for the sd edge cases.
  private lazy val df = {
    val r = new Random(7)
    val uniform = for {
      (g, n) <- Seq(("a", 2000), ("b", 5000), ("c", 800))
      v <- r.shuffle((1 to n).toVector)
    } yield (g, v.toLong)
    (uniform ++ Seq(("solo", 42L)) ++ Seq.fill(50)(("const", 9L)))
      .toDF("g", "v")
  }

  test("exact form: known uniform moments and percentiles") {
    val out = TextAnalysis.statProfile(df, "g", "v",
        percentiles = Seq(0.5, 0.9), exact = true)
      .as[(String, Long, Double, Option[Double], Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n, mean, sd, p50, p90) = out("a")
    assert(n == 2000 && mean == 1000.5)
    // Exact interpolated quantiles (1e-9: double interpolation rounding).
    assert(p50 == 1000.5 && math.abs(p90 - 1800.1) < 1e-9, s"p90=$p90")
    // Uniform 1..2000 sample variance = (n²-1)/12 · n/(n-1) = 333500 exactly.
    assert(math.abs(sd.get - math.sqrt(333500.0)) < 1e-5, s"sd=$sd")
    assert(out("const")._4.contains(0.0), "constant group sd must be 0, not NaN")
    assert(out("solo")._4.isEmpty, "singleton group sd must be NULL")
  }

  test("approx form: rank error within n/accuracy of exact, plan unchanged") {
    val accuracy = 1000
    val approx = TextAnalysis.statProfile(df, "g", "v",
        percentiles = Seq(0.5, 0.9), exact = false, accuracy = accuracy)
      .as[(String, Long, Double, Option[Double], Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    for (g <- Seq("a", "b", "c")) {
      val (_, n, _, _, p50, p90) = approx(g)
      // Uniform 1..n: value == rank, so |approx - exact| <= n/accuracy
      // (+1 for the exact form's interpolation between adjacent ints).
      val tol = n.toDouble / accuracy + 1
      assert(math.abs(p50 - (n + 1) * 0.5) <= tol, s"$g p50=$p50 n=$n")
      assert(math.abs(p90 - (0.9 * (n - 1) + 1)) <= tol, s"$g p90=$p90 n=$n")
      // Moments don't degrade: they come from the same exact integer sums.
      assert(approx(g)._3 == (n + 1) * 0.5)
    }
    // Same shape: ONE shuffle on the group key, partial aggregation
    // map-side — the sketch is mergeable so the plan matches the exact
    // form's (HashAggregate partial -> exchange -> final).
    val plan = executedPlanString(
      TextAnalysis.statProfile(df, "g", "v", exact = false))
    assert(plan.contains("Exchange hashpartitioning(g"), plan.take(400))
  }
}
