package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Distributed connected components by iterative min-label propagation.
 *
 * Replaces the reference's sequential in-driver cluster-map mutation
 * (/root/reference/src/CorefBase.groovy:180-211 pairwise adjacent merges,
 * chains resolved by mutation order) with transitive-closure semantics —
 * the documented CC-superset deviation of SURVEY.md §7.4(1).
 *
 * Labels are the vertex keys themselves (strings): collision-free and
 * deterministic (component id = lexicographic min key of the component).
 * Convergence in O(component diameter) rounds; near-duplicate name chains
 * are short, so 2-4 shuffles in practice. Each round localCheckpoints to
 * truncate lineage — on a cluster this stays a handful of narrow-ish
 * shuffle stages regardless of input size.
 */
object ConnectedComponents {

  /**
   * @param edges DataFrame with string columns `src`, `dst` (undirected).
   * @param strict when true, throw unless a ZERO-change round verified the
   *               fixpoint (a component with diameter > maxIter would
   *               otherwise be reported as several components). Convergence
   *               is only *verified* by observing a round that changes
   *               nothing, so up to maxIter+1 propagation rounds run: a
   *               component of diameter exactly maxIter finishes its last
   *               merges in round maxIter and the extra round confirms the
   *               fixpoint instead of spuriously failing.
   * @return DataFrame (`id`, `comp`) covering every vertex present in edges.
   *         Isolated vertices (no edges) are absent — union them as
   *         singleton components at the call site if needed.
   */
  def run(edges: DataFrame, maxIter: Int = 25,
      strict: Boolean = false): DataFrame =
    runWithRounds(edges, maxIter, strict)._1

  /** [[run]] plus the number of propagation rounds executed — the
    * convergence diagnostic docs/SCALE.md's cc_rounds record measures
    * against [[runAlternating]] (min-label needs O(diameter) rounds; the
    * alternation needs O(log n)). */
  private[graft] def runWithRounds(edges: DataFrame, maxIter: Int = 25,
      strict: Boolean = false): (DataFrame, Int) = {
    // src layout fixed once (round 16): the distinct's (src, dst)
    // partitioning does not satisfy the per-round propagation join on
    // `src`; repartition + sort by src so rounds reuse the cached layout
    // instead of re-exchanging the edge set (the LPA/Walks discipline).
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()

    // maxIter + 1: the final round is the verification round — if the
    // maxIter'th round made the last changes, one more round observing
    // zero changes proves the fixpoint (ADVICE r2: exiting with changed>0
    // after round maxIter conflates "converged ON the last round" with
    // "did not converge").
    //
    // Change detection is SCREEN-then-VERIFY (round 15): both rounds'
    // label sets live in cached checkpoint blocks, so a (count,
    // Σ xxhash64(id, comp)) signature is one tiny aggregate per round
    // with no join/shuffle of the node frame; only when the signatures
    // MATCH does the exact per-id comparison join run, exactly once, to
    // prove the fixpoint (a hash collision can therefore never terminate
    // the loop early — it only costs one extra exact check). The id set
    // is identical across rounds (the groupBy re-keys every id), so set
    // equality ⟺ zero per-id label changes.
    // Hash sum in DECIMAL: xxhash64 spans the full long range, so a
    // BIGINT sum overflows ANSI arithmetic on real data (decimal(30,0)
    // holds ~10¹¹ full-range longs exactly). A null sum (empty frame, or
    // decimal overflow at absurd scale) makes the screen INCONCLUSIVE —
    // mapped to None, which never proves a difference, so the exact
    // check still gates termination.
    def labelSig(df: DataFrame): (Long, Option[String]) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("id"), col("comp")).cast("decimal(20,0)"))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).map(_.toBigInteger.toString))
    }
    var iter = 0
    var changed = 1L
    var prevSig = labelSig(labels)
    while (changed > 0 && iter < maxIter + 1) {
      // Each vertex proposes its current component to every neighbour;
      // a vertex keeps the min of its own and all proposals.
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("comp"))
      val next = labels.union(msgs)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      val nextSig = labelSig(next)
      // Screen proves a DIFFERENCE only when both hash sums are present
      // and unequal; anything else (equal, or inconclusive null) falls
      // through to the exact per-id comparison.
      val provenDifferent = nextSig._1 != prevSig._1 ||
        (nextSig._2.isDefined && prevSig._2.isDefined &&
          nextSig._2 != prevSig._2)
      changed =
        if (provenDifferent) 1L
        else next.as("n")
          .join(labels.as("o"), col("n.id") === col("o.id"))
          .filter(col("n.comp") =!= col("o.comp"))
          .count()
      // The superseded round's checkpoint blocks are dead once `next` is
      // materialized and compared — free them instead of leaking one
      // cached RDD per round per invocation.
      CacheScope.unpinCheckpoint(labels)
      labels = next
      prevSig = nextSig
      iter += 1
    }
    sym.unpersist()
    if (strict && changed > 0)
      throw new IllegalStateException(
        s"connected components: fixpoint not verified after $iter rounds " +
          s"(maxIter = $maxIter merge rounds + 1 verification round; " +
          "labels still changing in the last round) — raise maxIter")
    // The RETURNED frame's checkpoint blocks are RDD-level caches no
    // DataFrame unpersist can release — register them with the caller's
    // tracking scope so sweep harnesses (Bench/Verify) free one vertex-set
    // RDD per invocation instead of accumulating them.
    (CacheScope.pinCheckpointed(labels), iter)
  }

  /**
   * Connected components by ALTERNATING STAR CONTRACTION — the
   * O(log n)-round algorithm of Kiveris, Lattanzi, Mirrokni, Rastogi &
   * Vassilvitskii, "Connected Components in MapReduce and Beyond"
   * (SoCC 2014): repeat (large-star; small-star) until the edge set is
   * a fixpoint, at which point every edge points a node at its
   * component's minimum label.
   *
   * [[run]]'s min-label propagation needs O(component diameter) rounds
   * — right for the coref name-chain graphs it was built for (diameter
   * 2–4), wrong for a high-diameter graph at scale: a 10⁶-long chain
   * (templated near-dup runs, sessionized event paths) would need 10⁶
   * shuffle rounds. The alternation contracts path length roughly
   * geometrically, so the SAME chain converges in tens of rounds
   * (docs/SCALE.md's cc_rounds record measures both on path graphs). Labels
   * are identical to [[run]]'s — component id = min member key — so
   * the two are interchangeable on output (spec-pinned equal).
   *
   * Per round: large-star is one symmetrize + one map-side-combined
   * min-aggregate + one edge-sized equi-join; small-star the same on
   * the to-smaller orientation; the fixpoint check is one full-outer
   * join on the canonical pair set. All edge-sized shuffles, no
   * per-node state beyond the edge frame itself; round checkpoints
   * rotate exactly as in [[run]].
   *
   * Same contract as [[run]]: string `src`/`dst`, undirected; returns
   * (`id`, `comp`) covering every vertex present in `edges` (self-loop
   * vertices appear as singletons); `strict` refuses an unverified
   * fixpoint. `maxIter` counts (large, small) rounds — 20 covers any
   * graph whose log² is plausible.
   */
  def runAlternating(edges: DataFrame, maxIter: Int = 20,
      strict: Boolean = false): DataFrame =
    runAlternatingWithRounds(edges, maxIter, strict)._1

  /** [[runAlternating]] plus the executed round count (cc_rounds). */
  private[graft] def runAlternatingWithRounds(edges: DataFrame,
      maxIter: Int = 20, strict: Boolean = false): (DataFrame, Int) = {
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // State: the canonical unordered pair set {(lo, hi) : lo < hi}.
    // Self-loops carry no connectivity — they re-enter via `nodes`.
    var pairs = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint()

    // Large-star: per node u over the SYMMETRIZED neighborhood,
    // m = min(Γ(u) ∪ {u}); link every LARGER neighbor to m. Emitted
    // pairs are canonical by construction (m ≤ u < v) but NOT deduped:
    // two neighbors of v sharing a min emit (m, v) twice, and the
    // consumer is always [[smallStar]], whose min-aggregate is
    // duplicate-insensitive and whose terminal distinct restores the
    // set — dropping the dedup here saves one edge-sized shuffle per
    // round (~1/4 of the round's stages on the q238 chain graph).
    def largeStar(p: DataFrame): DataFrame = {
      val sym = p.select(col("lo").as("u"), col("hi").as("v"))
        .union(p.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // NOTE (round 16, tried and REVERTED): joining the half-sized p on
      // lo == u (the sym rows surviving `v > u` are exactly p) and letting
      // the min-aggregate partial-combine looked like a 2|p| → |p| + ε
      // byte cut, but the ReusedExchange sharing below is BETTER on
      // low-degree graphs: with avg degree ~2 (q238's chain graph) the
      // map-side combine removes almost nothing, so the split shape
      // shuffles ~3|p| raw rows vs the shared exchange's 2|p| — measured
      // q238 163 → 210 MB. Sharing one raw exchange wins whenever
      // degree is small; partial aggregation only pays past ~3 edges/node.
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
    }

    // Small-star: orient every pair toward its SMALLER endpoint; per
    // node u over the smaller-neighborhood N(u), m = min(N(u)); link m
    // to every other member of N(u) ∪ {u}. m < v and m < u throughout,
    // so pairs stay canonical.
    def smallStar(p: DataFrame): DataFrame = {
      val nbrs = p.select(col("hi").as("u"), col("lo").as("v"))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("m"))
      nbrs.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .union(mins.select(col("m").as("lo"), col("u").as("hi")))
        .distinct()
    }

    // maxIter + 1, as in [[runWithRounds]] (ADVICE r2): convergence is
    // only VERIFIED by a round that changes nothing, so a graph whose
    // star fixpoint lands exactly on round maxIter gets one extra
    // confirmation round instead of a spurious strict failure.
    //
    // Fixpoint detection is SCREEN-then-VERIFY (round 15): a (count,
    // Σ xxhash64(lo, hi)) signature over the round's fresh checkpoint
    // blocks is one tiny aggregate — no join, no edge-sized shuffle —
    // and distinct signatures PROVE the sets differ (equal sets have
    // equal signatures), so the expensive exact check runs only when
    // the signatures match: the full-outer set-equality join executes
    // exactly once, at the fixpoint, instead of every round (q238: the
    // per-round check was ~2 of the round's ~5 edge-sized exchanges). A
    // hash collision can never terminate the loop early — it only
    // triggers one extra exact check that then reports the true
    // symmetric difference. (Counts alone can tie across distinct sets;
    // the either-side-null filter below is the exact proof.)
    // Decimal hash sum + inconclusive-as-None, as in [[runWithRounds]]'s
    // labelSig (a BIGINT sum of full-range xxhash64 overflows ANSI).
    def pairSig(df: DataFrame): (Long, Option[String]) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("lo"), col("hi")).cast("decimal(20,0)"))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).map(_.toBigInteger.toString))
    }
    var iter = 0
    var changed = 1L
    var prevSig = pairSig(pairs)
    while (changed > 0 && iter < maxIter + 1) {
      val next = smallStar(largeStar(pairs)).localCheckpoint()
      val nextSig = pairSig(next)
      val provenDifferent = nextSig._1 != prevSig._1 ||
        (nextSig._2.isDefined && prevSig._2.isDefined &&
          nextSig._2 != prevSig._2)
      changed =
        if (provenDifferent) 1L
        else next.as("n")
          .join(pairs.as("o"), col("n.lo") === col("o.lo") &&
            col("n.hi") === col("o.hi"), "full_outer")
          .filter(col("n.lo").isNull || col("o.lo").isNull)
          .count()
      CacheScope.unpinCheckpoint(pairs)
      pairs = next
      prevSig = nextSig
      iter += 1
    }
    if (strict && changed > 0) {
      CacheScope.unpinCheckpoint(pairs)
      nodes.unpersist()
      throw new IllegalStateException(
        s"alternating components: fixpoint not verified after $iter " +
          s"(large, small) rounds (maxIter = $maxIter contraction rounds " +
          "+ 1 verification round; pairs still moving) — raise maxIter")
    }
    // At the fixpoint every pair is (component min, member): label each
    // hi by its lo, everything unlabeled is its own component minimum
    // (or an edge-free / self-loop-only vertex). min(lo) is a no-op on a
    // true star set but keeps the extraction deterministic even when a
    // non-strict run stopped early.
    val labels = nodes
      .join(pairs.groupBy(col("hi").as("id")).agg(min(col("lo")).as("c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("comp"))
      .localCheckpoint()
    CacheScope.unpinCheckpoint(pairs)
    nodes.unpersist()
    (CacheScope.pinCheckpointed(labels), iter)
  }
}
