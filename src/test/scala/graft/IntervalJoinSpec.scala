package graft

import scala.util.Random

import graft.operators.IntervalJoin

/**
 * Bucketed interval-overlap join vs a sequential nested-loop reference
 * on random interval sets: exact pair set (closed-interval semantics,
 * touching endpoints overlap), each pair exactly ONCE regardless of how
 * many grid buckets it shares, bucket-width invariance, negative
 * coordinates, and the malformed-interval / span-guard refusals.
 */
class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def reference(ls: Seq[(Long, Long, Long)],
      rs: Seq[(Long, Long, Long)]): Set[(Long, Long)] =
    (for {
      (lid, s1, e1) <- ls
      (rid, s2, e2) <- rs
      if s1 <= e2 && s2 <= e1
    } yield (lid, rid)).toSet

  private def run(ls: Seq[(Long, Long, Long)], rs: Seq[(Long, Long, Long)],
      bucket: Long, maxSpan: Int = 1024): Seq[(Long, Long)] =
    IntervalJoin.overlapJoin(
        ls.toDF("lid", "ls", "le"), rs.toDF("rid", "rs", "re"),
        "ls", "le", "rs", "re", bucket, maxSpan)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq

  private def randomIntervals(rnd: Random, n: Int, base: Long,
      span: Int, maxLen: Int): Seq[(Long, Long, Long)] =
    (1 to n).map { i =>
      val s = rnd.nextInt(span).toLong
      (base + i, s, s + rnd.nextInt(maxLen))
    }

  test("random sets x bucket widths == nested-loop reference, each pair once") {
    val rnd = new Random(5)
    for (trial <- 1 to 3; bucket <- Seq(7L, 50L, 1000L)) {
      val ls = randomIntervals(rnd, 60, 1000, 500, 80)
      val rs = randomIntervals(rnd, 60, 2000, 500, 80)
      val got = run(ls, rs, bucket)
      assert(got.size === got.distinct.size,
        s"trial $trial bucket $bucket emitted duplicates")
      assert(got.toSet === reference(ls, rs), s"trial $trial bucket $bucket")
    }
  }

  test("closed semantics: touching endpoints overlap, one-off gaps don't") {
    val ls = Seq((1L, 0L, 10L))
    assert(run(ls, Seq((2L, 10L, 20L)), 4L) === Seq((1L, 2L))) // touch
    assert(run(ls, Seq((2L, 11L, 20L)), 4L) === Seq.empty)     // gap of 1
    assert(run(ls, Seq((2L, -5L, 0L)), 4L) === Seq((1L, 2L)))  // touch at 0
  }

  test("negative coordinates: floor-division bucketing stays exact") {
    val rnd = new Random(9)
    val ls = randomIntervals(rnd, 40, 100, 300, 50)
      .map { case (i, s, e) => (i, s - 200L, e - 200L) }
    val rs = randomIntervals(rnd, 40, 500, 300, 50)
      .map { case (i, s, e) => (i, s - 200L, e - 200L) }
    assert(run(ls, rs, 30L).toSet === reference(ls, rs))
  }

  test("coordinates beyond 2^53: integral grid division stays exact") {
    // ADVICE r11: epoch-nanos (~1.7e18) exceed double precision, so a
    // double-division floor can land one bucket off. fd is integral DIV
    // now; pairs AND the documented floor-grid semantics hold at the
    // long-range edge. Intervals straddle bucket boundaries near 2^62.
    val base = 1L << 62
    val ls = (0 until 40).map(i =>
      (100L + i, base + i * 37L, base + i * 37L + 25L))
    val rs = (0 until 40).map(i =>
      (500L + i, base + 11L + i * 41L, base + 11L + i * 41L + 25L))
    assert(run(ls, rs, 13L).toSet === reference(ls, rs))
    // One pair overlapping exactly at a bucket-multiple coordinate: the
    // first-shared-bucket dedup rule depends on fd(max(starts)) being the
    // true floor — off-by-one would drop or double the pair.
    val b = 1000L
    val edge = (1L << 61) / b * b // exact bucket multiple near 2^61
    assert(run(Seq((1L, edge - 5L, edge)), Seq((2L, edge, edge + 5L)), b)
      === Seq((1L, 2L)))
  }

  test("equi-keys restrict pairs to matching key values (banded-join form)") {
    val rnd = new Random(11)
    val ls = randomIntervals(rnd, 50, 1000, 400, 60)
      .map { case (i, s, e) => (i, s, e, (i % 3).toString) }
    val rs = randomIntervals(rnd, 50, 2000, 400, 60)
      .map { case (i, s, e) => (i, s, e, (i % 3).toString) }
    val got = IntervalJoin.overlapJoin(
        ls.toDF("lid", "ls", "le", "grp"), rs.toDF("rid", "rs", "re", "grp"),
        "ls", "le", "rs", "re", 50L, keys = Seq("grp"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = (for {
      (lid, s1, e1, g1) <- ls
      (rid, s2, e2, g2) <- rs
      if g1 == g2 && s1 <= e2 && s2 <= e1
    } yield (lid, rid)).toSet
    assert(got === want)
    assert(got.size < reference(ls.map(t => (t._1, t._2, t._3)),
      rs.map(t => (t._1, t._2, t._3))).size, "keys must actually restrict")
  }

  test("saltHot parity: salted output == unsalted, duplicates-free") {
    val rnd = new Random(13)
    // hot shape: everything in one narrow range — every pair shares cells
    val ls = (1 to 80).map(i => (100L + i, rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong + 50L))
    val rs = (1 to 80).map(i => (500L + i, rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong + 50L))
    for (salt <- Seq(2, 4, 7)) {
      val got = IntervalJoin.overlapJoin(
          ls.toDF("lid", "ls", "le"), rs.toDF("rid", "rs", "re"),
          "ls", "le", "rs", "re", 1000L, saltHot = salt)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      assert(got.size === got.distinct.size, s"salt $salt duplicates")
      assert(got.toSet === reference(ls, rs), s"salt $salt")
    }
  }

  test("autoSalt: engages on the hot fixture with identical output; stays off on uniform input") {
    val rnd = new Random(17)
    // hot shape: everything lands in ONE grid cell — the probe's
    // hottest-cell mass is the whole join, far above the engage factor.
    val ls = (1 to 80).map(i => (100L + i, rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong + 50L))
    val rs = (1 to 80).map(i => (500L + i, rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong + 50L))
    // factor 2 < the suite's 4 shuffle partitions: with EVERYTHING in
    // one cell the max/avg-per-partition ratio tops out at exactly P,
    // so a factor >= P can never fire at test parallelism (production
    // P is hundreds, where the default factor 4 engages easily).
    val auto = IntervalJoin.overlapJoin(
        ls.toDF("lid", "ls", "le"), rs.toDF("rid", "rs", "re"),
        "ls", "le", "rs", "re", 1000L, autoSalt = true,
        autoSaltFactor = 2.0)
    // the probe must have rewritten the plan to the salted form —
    // visible as the replicate-side explode over the salt sequence
    assert(withFullPlanStrings(auto.queryExecution.analyzed.toString).contains("__salt"),
      "autoSalt did not engage on an all-hot fixture")
    val got = auto.select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(got.size === got.distinct.size, "autoSalt duplicates")
    assert(got.toSet === reference(ls, rs))
    // uniform input: cells are even, the probe must keep the plain plan
    val ul = (1 to 200).map(i => (i.toLong, i * 1000L, i * 1000L + 10L))
    val ur = (1 to 200).map(i => (10000L + i, i * 1000L + 5L,
      i * 1000L + 15L))
    val plain = IntervalJoin.overlapJoin(
        ul.toDF("lid", "ls", "le"), ur.toDF("rid", "rs", "re"),
        "ls", "le", "rs", "re", 100L, autoSalt = true)
    assert(!withFullPlanStrings(plain.queryExecution.analyzed.toString).contains("__salt"),
      "autoSalt engaged on a uniform fixture")
    assert(plain.select("lid", "rid").as[(Long, Long)].collect().toSet ===
      reference(ul, ur))
    // guard: autoSalt and a manual saltHot are mutually exclusive
    intercept[IllegalArgumentException] {
      IntervalJoin.overlapJoin(
        ls.toDF("lid", "ls", "le"), rs.toDF("rid", "rs", "re"),
        "ls", "le", "rs", "re", 1000L, saltHot = 4, autoSalt = true)
    }
  }

  test("refusals: start > end raises; over-span interval names the fix") {
    val e1 = intercept[Exception] {
      run(Seq((1L, 10L, 5L)), Seq((2L, 0L, 1L)), 10L)
    }
    assert(chain(e1).exists(_.contains("start <= end")), s"got $e1")
    val e2 = intercept[Exception] {
      run(Seq((1L, 0L, 10000L)), Seq((2L, 0L, 1L)), 10L, maxSpan = 16)
    }
    assert(chain(e2).exists(_.contains("coarser bucket")), s"got $e2")
    val e3 = intercept[IllegalArgumentException] {
      IntervalJoin.overlapJoin(
        Seq((1L, 0L, 1L)).toDF("id", "s", "e"),
        Seq((2L, 0L, 1L)).toDF("id", "s2", "e2"),
        "s", "e", "s2", "e2", 10L)
    }
    assert(e3.getMessage.contains("disjoint"))
  }

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ chain(t.getCause)
}
