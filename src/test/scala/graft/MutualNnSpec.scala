package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/**
 * Similarity.ivfMutualTop1 — the ANN-backed bitext-mining composition
 * (q206) — against the brute-force mutual join it replaces (q195's
 * shape):
 *
 *  - FULL probe (nProbe = nLists) makes the candidate set the complete
 *    bipartite graph, so the result must equal the brute mutual join
 *    EXACTLY — pairs and cosines — for any centroid set (hash-derived
 *    or k-means-trained);
 *  - at the pruned operating point recall is < 1 by construction;
 *    measured here on a clustered fixture (the regime IVF is for) with
 *    the true cluster centers as centroids.
 */
class MutualNnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val nClu = 8

  // Deterministic clustered fixture: cluster c = a two-dim bump at
  // (c, c+1); members perturb each coordinate by a small hash-derived
  // offset. Left/right members of the same cluster are near-parallel,
  // cross-cluster cosines are far lower.
  private def vec(c: Int, m: Int): Seq[Float] =
    (0 until dim).map { j =>
      val base = if (j == c || j == (c + 1) % dim) 1.0f else 0.0f
      base + ((m * 31 + j * 7 + c * 13) % 11 - 5) / 50.0f
    }

  private lazy val left = (0 until 40).map(i => (i.toLong, vec(i % nClu, i)))
    .toDF("vec_id", "embedding")
  private lazy val right = (0 until 40).map(i => ((100 + i).toLong, vec(i % nClu, i + 1000)))
    .toDF("vec_id", "embedding")

  private def collectPairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("l_id"), col("r_id"), round(col("sim"), 6).as("sim"))
      .as[(Long, Long, Double)].collect().toSet

  private lazy val bruteMutual: Set[(Long, Long, Double)] = {
    val l2r = Similarity.bruteForceTopK(right, left, "vec_id", "embedding", 1)
      .select(col("q_id").as("l_id"), col("n_id").as("r_id"), col("sim"))
    val r2l = Similarity.bruteForceTopK(left, right, "vec_id", "embedding", 1)
      .select(col("q_id").as("r_id"), col("n_id").as("l_id"))
    collectPairs(l2r.join(r2l, Seq("l_id", "r_id")))
  }

  test("full probe (nProbe = nLists) equals the brute mutual join exactly") {
    val full = Similarity.ivfMutualTop1(left, right, "vec_id", "embedding",
      nLists = 8, nProbe = 8,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim)))
    assert(bruteMutual.nonEmpty, "fixture must produce mutual pairs")
    assert(collectPairs(full) === bruteMutual)
  }

  test("trained-centroid path at full probe also equals the brute mutual join") {
    val full = Similarity.ivfMutualTop1(left, right, "vec_id", "embedding",
      nLists = 4, nProbe = 4)
    assert(collectPairs(full) === bruteMutual)
  }

  test("pruned probe recall on clustered embeddings with the true centers") {
    val centers = Array.tabulate(nClu, dim) { (c, j) =>
      if (j == c || j == (c + 1) % dim) 1.0 else 0.0
    }
    val approx = collectPairs(Similarity.ivfMutualTop1(
      left, right, "vec_id", "embedding", nLists = nClu, nProbe = 2,
      fixedCentroids = Some(centers)))
    val recall = (approx & bruteMutual).size.toDouble / bruteMutual.size
    assert(recall >= 0.8, s"recall $recall vs brute mutual (${bruteMutual.size} pairs)")
  }

  /** Sequential margin reference (Artetxe & Schwenk) over the complete
    * candidate set: same arithmetic as the operator — in-order double
    * cosine, HALF_UP nano-quantization, integer top-k sums, one double
    * division of int64 cross-products. */
  private def refMargin(ls: Seq[(Long, Seq[Float])],
      rs: Seq[(Long, Seq[Float])], k: Int): Set[(Long, Long, Double)] = {
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val sims = for ((li, lv) <- ls; (ri, rv) <- rs) yield {
      val c = dot(lv, rv) / (math.sqrt(dot(lv, lv)) * math.sqrt(dot(rv, rv)))
      (li, ri, BigDecimal(c * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val topL = sims.groupBy(_._1).map { case (li, ps) =>
      val top = ps.sortBy(p => (-p._3, p._2)).take(k)
      li -> (top.map(_._3).sum, top.size.toLong)
    }
    val topR = sims.groupBy(_._2).map { case (ri, ps) =>
      val top = ps.sortBy(p => (-p._3, p._1)).take(k)
      ri -> (top.map(_._3).sum, top.size.toLong)
    }
    val margins = sims.map { case (li, ri, sn) =>
      val (suml, cl) = topL(li); val (sumr, cr) = topR(ri)
      (li, ri, (sn * 2 * cl * cr).toDouble / (suml * cr + sumr * cl).toDouble)
    }
    val bestL = margins.groupBy(_._1).map { case (li, ps) =>
      li -> ps.minBy(p => (-p._3, p._2)) }
    val bestR = margins.groupBy(_._2).map { case (ri, ps) =>
      ri -> ps.minBy(p => (-p._3, p._1)) }
    margins.filter(p => bestL(p._1) == p && bestR(p._2) == p)
      .map(p => (p._1, p._2,
        BigDecimal(p._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toSet
  }

  test("marginMutualTop1 at full probe == sequential margin reference") {
    val got = Similarity.marginMutualTop1(left, right, "vec_id", "embedding",
      k = 4, nLists = 8, nProbe = 8,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim)))
      .select(col("l_id"), col("r_id"), col("margin"))
      .as[(Long, Long, Double)].collect().toSet
    val want = refMargin(
      (0 until 40).map(i => (i.toLong, vec(i % nClu, i))),
      (0 until 40).map(i => ((100 + i).toLong, vec(i % nClu, i + 1000))),
      k = 4)
    assert(want.nonEmpty)
    assert(got === want)
  }

  // ---- beam-navigated variant (q210): the production-cell-count path.

  test("beam at full connectivity == dense ivfMutualTop1 exactly") {
    // degree = nLists−1 and depth ≥ 1 put EVERY cell into the beam
    // ranking; with beamWidth = nLists the final beam IS the dense
    // (d2, cell) ranking, so assignment and probe sets — and hence the
    // whole mutual result — coincide with the dense path's.
    val dense = collectPairs(Similarity.ivfMutualTop1(
      left, right, "vec_id", "embedding", nLists = 8, nProbe = 4,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim))))
    val beam = collectPairs(Similarity.ivfMutualTop1Beam(
      left, right, "vec_id", "embedding", nLists = 8, nProbe = 4,
      beamWidth = 8, depth = 1, degree = 7, entryCells = 1,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim))))
    assert(dense.nonEmpty)
    assert(beam === dense)
  }

  test("beam at pruned settings: recall vs brute mutual on the clustered fixture") {
    val centers = Array.tabulate(nClu, dim) { (c, j) =>
      if (j == c || j == (c + 1) % dim) 1.0 else 0.0
    }
    val approx = collectPairs(Similarity.ivfMutualTop1Beam(
      left, right, "vec_id", "embedding", nLists = nClu, nProbe = 2,
      beamWidth = 4, depth = 2, degree = 3, entryCells = 2,
      fixedCentroids = Some(centers)))
    val recall = (approx & bruteMutual).size.toDouble / bruteMutual.size
    assert(recall >= 0.8, s"beam recall $recall vs brute mutual (${bruteMutual.size} pairs)")
  }

  test("marginMutualTop1Beam at full connectivity == dense marginMutualTop1") {
    val dense = Similarity.marginMutualTop1(left, right, "vec_id",
      "embedding", k = 4, nLists = 8, nProbe = 4,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim)))
      .select(col("l_id"), col("r_id"), col("margin"))
      .as[(Long, Long, Double)].collect().toSet
    val beam = Similarity.marginMutualTop1Beam(left, right, "vec_id",
      "embedding", k = 4, nLists = 8, nProbe = 4,
      beamWidth = 8, depth = 1, degree = 7, entryCells = 1,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim)))
      .select(col("l_id"), col("r_id"), col("margin"))
      .as[(Long, Long, Double)].collect().toSet
    assert(dense.nonEmpty)
    assert(beam === dense)
  }

  /** Dense argmin assignment of the `left` fixture — sequential
    * reference shared by the beam-assign tests. */
  private def denseAssign(cents: Array[Array[Double]]): Map[Long, Int] =
    (0 until 40).map { i =>
      val v = vec(i % nClu, i)
      val d2s = cents.map { c =>
        var s = 0.0; var k = 0
        while (k < c.length) { val d = v(k).toDouble - c(k); s += d * d; k += 1 }
        s
      }
      i.toLong -> d2s.zipWithIndex.minBy { case (d, idx) => (d, idx) }._2
    }.toMap

  test("beamAssign at full connectivity == dense argmin assignment") {
    val cents = Similarity.portableCentroids(8, dim)
    // beamWidth 1 suffices: degree = nLists−1 puts every cell into the
    // round-1 ranking, whose top-1 IS the global argmin.
    val got = Similarity.beamAssign(left, "vec_id", "embedding", cents,
      beamWidth = 1, depth = 1, degree = 7, entryCells = 1)
      .as[(Long, Int)].collect().toMap
    assert(got === denseAssign(cents))
  }

  // ---- distributed navigation-graph build (VERDICT r10 #1).

  /** The retired driver loop, kept as the sequential reference: per
    * node, all-pairs in-order-double d2, sorted by (d2, dst). Returns
    * the full ranking so tests can slice any rank set. */
  private def refRanking(cents: Array[Array[Double]]): Map[Int, Seq[Int]] =
    cents.indices.map { i =>
      i -> cents.indices.filter(_ != i).map { j =>
        val a = cents(i); val b = cents(j)
        var s = 0.0; var k = 0
        while (k < a.length) { val d = a(k) - b(k); s += d * d; k += 1 }
        (s, j)
      }.sorted.map(_._2).toSeq
    }.toMap

  private def centFrame(cents: Array[Array[Double]]): DataFrame =
    spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid")

  test("distributed buildNavGraph (exact tier) == the retired driver loop") {
    val cents = Similarity.portableCentroids(24, dim)
    val got = Similarity.buildNavGraph(centFrame(cents), degree = 3)
      .as[(Int, Int)].collect().toSet
    val want = refRanking(cents).toSeq
      .flatMap { case (i, nbrs) => nbrs.take(3).map((i, _)) }.toSet
    assert(got === want)
  }

  test("longLinks keeps exactly the geometric rank ladder degree·2^l") {
    val cents = Similarity.portableCentroids(24, dim)
    val got = Similarity.buildNavGraph(centFrame(cents), degree = 2,
      longLinks = 3).as[(Int, Int)].collect().toSet
    // ranks kept (1-based): {1, 2} ∪ {4, 8, 16}
    val keep = Seq(0, 1, 3, 7, 15)
    val want = refRanking(cents).toSeq.flatMap { case (i, nbrs) =>
      keep.filter(_ < nbrs.size).map(r => (i, nbrs(r))) }.toSet
    assert(got === want)
  }

  test("coarse tier at full probe == exact tier") {
    // Probing every super-cell makes the candidate set all pairs, so
    // the coarse ranking coincides with the exact one regardless of
    // how k-means carved the super-cells.
    val cents = Similarity.portableCentroids(24, dim)
    val exact = Similarity.buildNavGraph(centFrame(cents), degree = 3)
      .as[(Int, Int)].collect().toSet
    val coarse = Similarity.buildNavGraph(centFrame(cents), degree = 3,
      coarseCells = 4, coarseProbe = 4).as[(Int, Int)].collect().toSet
    assert(coarse === exact)
  }

  test("coarse tier at pruned probe: per-node out-links, recall vs exact") {
    val cents = Similarity.portableCentroids(32, dim)
    val exact = Similarity.buildNavGraph(centFrame(cents), degree = 3)
      .as[(Int, Int)].collect().toSet
    val coarse = Similarity.buildNavGraph(centFrame(cents), degree = 3,
      coarseCells = 8, coarseProbe = 4).as[(Int, Int)].collect().toSet
    // every node keeps out-links (no stranded node) and most true
    // nearest links survive the pruned super-cell probe
    assert(coarse.map(_._1).size === 32)
    val recall = (coarse & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"coarse nav recall $recall")
  }

  test("coarse tier at 1024 cells: near-link recall floor vs the exact tier") {
    // VERDICT r11 #3: the coarse tier's production claim (10⁵–10⁶ cells)
    // rested on a 32-cell fixture; this pins a recall floor at a cell
    // count where the coarse machinery (√n super-cells, pruned probe)
    // is structurally exercised — the wall-clock-scale sweep is
    // docs/SCALE.md's beam_nav_coarse record.
    val cents = Similarity.portableCentroids(1024, dim)
    val exact = Similarity.buildNavGraph(centFrame(cents), degree = 4)
      .as[(Int, Int)].collect().toSet
    val coarse = Similarity.buildNavGraph(centFrame(cents), degree = 4,
      coarseCells = 32, coarseProbe = 8).as[(Int, Int)].collect().toSet
    assert(coarse.map(_._1).size === 1024, "no stranded node")
    val recall = (coarse & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"coarse near-link recall $recall at 1024 cells")
  }

  test("non-contiguous cell ids: strides land on real cells; entry set adapts") {
    // ADVICE r11: the coarse tier's far links used raw id arithmetic and
    // beamAssignWithGraph entered at literal ids 0..entryCells-1 — both
    // silently wrong on an artifact with gaps in its id space (filtered
    // centroid table, external build). Strides now walk the dense RANK;
    // the entry set is the smallest ids PRESENT.
    val cents = Similarity.portableCentroids(24, dim)
    val gapped = spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) => (i * 10 + 5, c.toSeq) })
      .toDF("cell", "centroid") // ids 5, 15, …, 235 — no 0, nothing dense
    val ids = gapped.select("cell").as[Int].collect().toSet
    val nav = Similarity.buildNavGraph(gapped, degree = 3, longLinks = 3,
      coarseCells = 4, coarseProbe = 2)
    val links = nav.as[(Int, Int)].collect()
    assert(links.forall { case (s, d) => ids(s) && ids(d) },
      "every nav link must join two EXISTING cells")
    // the rank-stride ladder reaches beyond the probe-local links: at
    // stride n>>1 = 12 ranks, node rank 0 (cell 5) links to rank 12
    // (cell 125) — a link id arithmetic could never produce
    assert(links.contains((5, 125)), "rank-stride far link missing")
    val assigned = Similarity.beamAssignWithGraph(left, "vec_id",
      "embedding", gapped, nav, beamWidth = 4, depth = 2, entryCells = 2)
      .as[(Long, Int)].collect()
    assert(assigned.length.toLong === left.count())
    assert(assigned.forall { case (_, c) => ids(c) })
  }

  test("beamAssignWithGraph over table metadata == beamAssign (array face)") {
    val cents = Similarity.portableCentroids(16, dim)
    val centDf = centFrame(cents)
    val nav = Similarity.buildNavGraph(centDf, degree = 4)
    val viaGraph = Similarity.beamAssignWithGraph(left, "vec_id",
      "embedding", centDf, nav, beamWidth = 4, depth = 2, entryCells = 2)
      .as[(Long, Int)].collect().toMap
    val viaArray = Similarity.beamAssign(left, "vec_id", "embedding",
      cents, beamWidth = 4, depth = 2, degree = 4, entryCells = 2)
      .as[(Long, Int)].collect().toMap
    assert(viaGraph === viaArray)
  }

  test("long links do not hurt an under-provisioned walk's agreement with dense") {
    // The navigability claim, spec-sized: on a 64-cell graph walked
    // with a deliberately thin beam (entry 1, degree 2, beam 2), the
    // distance-stratified far links can only widen what the walk can
    // reach. The MEASURED improvement at scale is docs/SCALE.md's
    // ladder-navigability (beam_nav) record; here we pin the direction.
    val cents = Similarity.portableCentroids(64, dim)
    val want = denseAssign(cents)
    def agree(longLinks: Int): Int = {
      val got = Similarity.beamAssign(left, "vec_id", "embedding", cents,
        beamWidth = 2, depth = 3, degree = 2, entryCells = 1,
        longLinks = longLinks).as[(Long, Int)].collect().toMap
      got.count { case (id, cell) => want(id) == cell }
    }
    assert(agree(3) >= agree(0))
  }

  test("mutual pairs are one-to-one (each id appears at most once per side)") {
    val pairs = collectPairs(Similarity.ivfMutualTop1(
      left, right, "vec_id", "embedding", nLists = 8, nProbe = 3,
      fixedCentroids = Some(Similarity.portableCentroids(8, dim))))
    assert(pairs.map(_._1).size == pairs.size)
    assert(pairs.map(_._2).size == pairs.size)
  }
}
