package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Partition-quality metrics for a node membership over an undirected
 * graph — modularity (Newman & Girvan 2004) and conductance, the
 * standard "did the clustering find real structure" checks after
 * q123's label propagation / q76's near-dup components / any
 * domain-given partition. Computed in EXACT INTEGERS so the whole
 * scorecard sits under a cross-engine hash oracle: with m total
 * edges, m_c internal edges and d_c summed degree per community,
 * modularity is Q = Σ_c (m_c/m − (d_c/2m)²), and its numerator over
 * the common denominator 4m² is the exact integer
 * 4·m·m_c − d_c² per community — no floating point anywhere.
 * Conductance per community is the exact pair (cut_c, vol_c) with
 * cut_c = d_c − 2·m_c and vol_c = d_c.
 *
 * Cost shape: ONE distinct canonicalization of the edge list, two
 * membership equi-joins (membership is node-sized — broadcast under
 * AQE, or co-partitioned with bucketed edges at 100 TB), and two
 * map-side-combined aggregates (internal edges per community, degree
 * per community). No iteration, no windows.
 *
 * @param edges undirected edge list in either orientation (internally
 *              canonicalized to s < d, deduped; self-loops dropped —
 *              they are neither internal edges nor degree in the
 *              Newman convention used here)
 * @param membership (node_id, community); must cover every endpoint —
 *              edges with an unmapped endpoint are REJECTED (a partial
 *              partition silently skews Q toward its covered part)
 * @return one row per NON-EMPTY community:
 *         (community, n_nodes, internal_edges, degree_sum, cut,
 *          q_num) with q_num = 4·m·internal_edges − degree_sum² over
 *         the implicit denominator 4m²; communities whose nodes touch
 *         no edge still appear (all-zero stats) via the membership
 *         side of the final outer join
 */
object Modularity {

  /**
   * Unweighted (`weightCol = None`): edges canonicalized and DEDUPED.
   * Weighted (`weightCol = Some(c)` — Newman 2004's weighted
   * generalization): integer weights SUM per canonical undirected pair
   * (both orientations and repeats merge — the multigraph-correct
   * rule), and every count in the scorecard becomes a weight sum: with
   * W total weight, w_c internal weight and S_c summed weighted
   * degree, q_num = 4·W·w_c − S_c² over the implicit 4W² — still exact
   * integers, still the same [[finalizeStats]] (W derives as
   * Σ degree_sum / 2 exactly like m does).
   */
  def communityStats(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String] = None,
      selfLoops: Boolean = false): DataFrame = {
    // Pinned: reused by the tagging joins and (through them) both
    // aggregates of partialStats.
    val e = canonEdges(edges, weightCol, selfLoops)
      .localCheckpoint(true)
      .transform(CacheScope.pinCheckpointed) // backs the returned plan
    // Checkpoint the community-sized partial: finalizeStats reads it
    // from THREE subtrees (node join, broadcast total, gate branch) —
    // off a live plan each would re-run the membership joins; off this
    // tiny checkpoint the re-reads are free. (The streaming face's
    // artifact arrives already checkpointed by foldStream.)
    finalizeStats(
      partialStats(e.select(col("s").as("src"), col("d").as("dst"),
        col("w")), membership, Some("w"), selfLoops)
        .localCheckpoint(true)
        .transform(CacheScope.pinCheckpointed),
      membership)
  }

  /** The single home of the canonical undirected merge (shared by
    * [[communityStats]], [[greedyMoveRound]] and [[coarsen]] so the
    * multigraph rule cannot diverge between the scorecard, the move
    * round and the coarsening): (s ≤ d, w); unweighted repeats dedup
    * to ONE edge, weighted repeats and orientations SUM. Ids cast to
    * long BEFORE least/greatest — string ids (a coarse graph's
    * community labels) would otherwise canonicalize lexicographically
    * ("10" < "2") and the numeric s ≤ d filter would silently DROP the
    * mis-oriented pair. `selfLoops = false` (every pre-round-13
    * caller) drops s = d rows; `true` keeps them — a coarse graph
    * carries community-internal mass as self-loops ([[coarsen]]). */
  private[graft] def canonEdges(edges: DataFrame, weightCol: Option[String],
      selfLoops: Boolean = false): DataFrame = edges
    .select(least(col("src").cast("long"), col("dst").cast("long")).as("s"),
      greatest(col("src").cast("long"), col("dst").cast("long")).as("d"),
      weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
        .as("w0"))
    .filter(if (selfLoops) col("s") <= col("d") else col("s") < col("d"))
    .groupBy(col("s"), col("d"))
    .agg((if (weightCol.isDefined) sum(col("w0")) else min(col("w0")))
      .as("w"))

  /**
   * Associative per-batch contribution — the streaming face's fold unit
   * (see [[graft.streaming.ArtifactStreams.modularityStream]]): per
   * community, (internal_edges, degree_sum) over THIS batch's edges.
   * Rows are canonicalized and self-loops dropped, but deduplication is
   * the CALLER's contract: feed unique undirected edges (the batch path
   * dedupes/merges; a stream dedupes upstream or accepts multigraph
   * semantics, where a repeated edge weights its endpoints' degree and
   * internal counts — a defensible convention, stated, not silent).
   * With `weightCol` set, every count becomes an integer weight sum
   * (the Newman 2004 weighted generalization — see [[communityStats]]);
   * the unweighted fold is exactly the w ≡ 1 instance, so the two faces
   * share one code path and one [[finalizeStats]].
   * Unmapped endpoints are NOT refused here — they fold into a
   * NULL-community row (its degree_sum counts the unmapped endpoint
   * slots), which [[finalizeStats]] refuses at execution time. Carrying
   * the violation in the artifact keeps the fold a single aggregate
   * (the old eager `require(….isEmpty)` cost one extra node-join
   * action per call — per BATCH in the streaming face, ADVICE r10).
   */
  def partialStats(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String] = None,
      selfLoops: Boolean = false): DataFrame = {
    // With selfLoops (a COARSE graph — [[coarsen]]'s output), an s = d
    // row is community-internal mass: it contributes w to its
    // community's internal weight (the cs = cd branch counts it once)
    // and 2w to its degree (both endpoint slots land on the same
    // community) — exactly the convention under which the coarse
    // scorecard equals the fine one (ModularitySpec pins it).
    val e = edges
      .select(least(col("src").cast("long"), col("dst").cast("long"))
          .as("s"),
        greatest(col("src").cast("long"), col("dst").cast("long"))
          .as("d"),
        weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
          .as("w"))
      .filter(if (selfLoops) col("s") <= col("d") else col("s") < col("d"))
    val mem = membership.select(col("node_id").cast("long").as("node_id"),
      col("community").cast("string").as("community"))
    val tagged = e
      .join(mem.select(col("node_id").as("s"), col("community").as("cs")),
        Seq("s"), "left")
      .join(mem.select(col("node_id").as("d"), col("community").as("cd")),
        Seq("d"), "left")
    // internal edge weight per community (both endpoints inside — the
    // null-unsafe === keeps unmapped endpoints out); degree per
    // community: each canonical edge contributes its weight to both
    // endpoints' communities (2w to its own when internal). Unweighted
    // is the w ≡ 1 instance — sums ARE the counts. Unmapped endpoints
    // group under community NULL — the carried coverage violation.
    val internal = tagged.filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community"))
      .agg(sum(col("w")).as("internal_edges"))
    val degree = tagged.select(col("cs").as("community"), col("w"))
      .union(tagged.select(col("cd").as("community"), col("w")))
      .groupBy(col("community"))
      .agg(sum(col("w")).as("degree_sum"))
    degree.join(internal, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"))
  }

  /**
   * Turn a folded (community, internal_edges, degree_sum) artifact into
   * the full scorecard. The total edge count is DERIVED from the
   * artifact itself — Σ degree_sum = 2m exactly — so the fold carries
   * no global row and the 1-row total joins back as a broadcast, never
   * a driver-side count. The coverage gate is the LEADING UNION BRANCH
   * of the output, riding the same 1-row aggregate: a NULL-community
   * row in the artifact (unmapped edge endpoints, see [[partialStats]])
   * raises when the consuming action runs — a partial partition
   * silently skews Q toward its covered part, so refuse it. See the
   * in-body comment for why every other gate shape (projected column,
   * output Filter, broadcast crossJoin, trailing branch) is removed or
   * skipped by some optimizer/execution path.
   */
  def finalizeStats(partial: DataFrame, membership: DataFrame): DataFrame = {
    val mem = membership.select(col("node_id").cast("long").as("node_id"),
      col("community").cast("string").as("community"))
    // mTot is aggregated twice (the broadcast total AND the gate
    // branch) — deliberately NOT cached here: finalizeStats runs once
    // per TRIGGER in the streaming face, where an unscoped persist
    // would accumulate one CacheManager entry per trigger for the
    // stream's lifetime (the leak class CacheScope exists to prevent).
    // Both consumers re-aggregate `partial` instead, which every caller
    // makes cheap: the stream's artifact is already a checkpoint
    // (foldStream), and communityStats checkpoints its partial below.
    val mTot = partial
      .agg(coalesce(sum(col("degree_sum")), lit(0L)).as("deg2"),
        // Gate on ROW EXISTENCE, not weight mass (ADVICE r12): an
        // unmapped endpoint reachable only through zero-weight edges
        // folds to degree_sum = 0, and negative weights could cancel a
        // sum — a null-community ROW is the violation, whatever its
        // mass. The mass still rides along for the error message.
        count(when(col("community").isNull, lit(1))).as("unmapped_rows"),
        coalesce(sum(when(col("community").isNull, col("degree_sum"))),
          lit(0L)).as("unmapped"))
      // Integral halving (deg2 is even by construction — every edge
      // contributes its weight to exactly two endpoint slots): `expr`
      // DIV stays exact past 2^53, where double division would round
      // (the same class as IntervalJoin's grid fix, ADVICE r11).
      .select(expr("deg2 DIV 2").as("m_tot"), col("unmapped"),
        col("unmapped_rows"))
    val nodes = mem.groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val internal0 = coalesce(col("internal_edges"), lit(0L))
    val degree0 = coalesce(col("degree_sum"), lit(0L))
    // The coverage gate is the LEADING union branch of the output,
    // riding the 1-row total aggregate: zero rows when coverage holds,
    // a raise when it doesn't. Every other shape is removed or skipped
    // by some path — a projected gate is column-prunable (ADVICE r11);
    // a Filter over output rows never evaluates when the output is
    // EMPTY (empty membership against non-empty edges: nodes is empty,
    // the join emits nothing); a broadcast crossJoin gate is folded
    // away whole by empty-relation propagation; and a TRAILING union
    // branch is skipped by limit short-circuiting (CollectLimit
    // consumes partitions in order and stops once satisfied — a
    // .show(5)/.take over a valid-looking prefix would never reach a
    // gate at the end). Leading, the gate's partition is consumed
    // first under any limit, emits nothing when valid, and the
    // aggregate beneath it produces its row even over empty input.
    // Sentinel columns are DERIVED from the aggregate, never literals
    // (ADVICE r12): a caller predicate that excludes the sentinel row
    // (e.g. .filter(n_nodes > 0)) pushes through the Union into this
    // branch; over literal columns it CONSTANT-FOLDS to false and
    // PruneFilters/PropagateEmptyRelation delete the branch, gate and
    // all. Even `unmapped_rows * 0` folds (the count is non-nullable,
    // so Spark 4's arithmetic simplification rewrites it to 0 —
    // verified against the optimized plan). A CASE on the aggregate
    // column is opaque to every simplification rule: the pushed
    // predicate stays unfoldable, the branch survives, and the gate
    // filter below it still raises. The branch emits zero rows either
    // way, so the values are schema-only.
    val zeroL = when(col("unmapped_rows") < 0, lit(1L)).otherwise(lit(0L))
    val zeroS = substring(col("unmapped_rows").cast("string"), 1, 0)
    val gateRow = mTot
      .filter(when(col("unmapped_rows") > 0, raise_error(concat(
          lit("membership must cover every edge endpoint — "),
          col("unmapped_rows").cast("string"),
          lit(" unmapped artifact row(s), endpoint weight "),
          col("unmapped").cast("string"))))
        .otherwise(lit(false)))
      .select(zeroS.as("community"), zeroL.as("n_nodes"),
        zeroL.as("internal_edges"), zeroL.as("degree_sum"),
        zeroL.as("cut"), zeroL.as("q_num"))
    gateRow.unionByName(nodes
      .join(partial, Seq("community"), "left")
      .crossJoin(broadcast(mTot))
      .select(col("community"), col("n_nodes"),
        internal0.as("internal_edges"), degree0.as("degree_sum"),
        (degree0 - lit(2L) * internal0).as("cut"),
        (lit(4L) * col("m_tot") * internal0 - degree0 * degree0)
          .as("q_num")))
  }

  /**
   * ONE synchronous round of greedy modularity ascent — the move phase
   * of Louvain community detection (Blondel et al. 2008) in its
   * distributed-synchronous form: every node evaluates, against the
   * CURRENT membership, the exact modularity gain of defecting to each
   * neighboring community, and reports its best strictly-positive move
   * (ties: gain desc, community asc; no gain → stay). All gains are
   * EXACT INTEGERS over the scorecard's 4W² denominator: moving i from
   * community a to b changes q_num by
   *   Δ = 4·W·(w(i,b) − w(i,a)) − 2·d_i·(S_b − S_a + d_i)
   * with w(i,c) = i's edge weight into c, d_i = i's weighted degree,
   * S_c = community degree sums — so the whole round sits under a
   * cross-engine hash oracle (q239), and each reported Δ is spec-pinned
   * against a full [[communityStats]] recompute of the single-node
   * move. The SYNCHRONOUS caveat is the standard one for distributed
   * Louvain: each Δ is exact HOLDING OTHERS FIXED; applying all moves
   * at once can overshoot when neighbors defect together (two nodes
   * moving into each other's abandoned community). That is the
   * documented trade of every parallel Louvain — callers alternate
   * move rounds with re-scores, or damp by applying only the top
   * fraction. This operator is the ROUND; policy stays at the call
   * site.
   *
   * Cost shape: one canonical edge merge, two membership joins, three
   * map-side-combined aggregates (node degree, node→community weight,
   * community degree), one community-sized broadcast back, one
   * row_number over the node's candidate communities (fan-in = the
   * node's distinct neighbor communities, degree-bounded). No
   * iteration; edge-sized shuffles only.
   *
   * @return one row per membership node:
   *         (node_id, comm_old, comm_new, dq_num) — comm_new = comm_old
   *         and dq_num = 0 for stayers (including edge-free nodes)
   */
  def greedyMoveRound(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String] = None,
      selfLoops: Boolean = false): DataFrame =
    greedyMoveRound(edges, membership, weightCol, selfLoops,
      assumeCanonical = false)

  /** [[greedyMoveRound]] with the canonical-input fast path exposed.
    * private[graft] (ADVICE r15): the flag TRUSTS the caller — a
    * non-canonical or unmaterialized frame silently double-counts into
    * w_ic/deg/W — so only provably-canonical internal callers
    * ([[louvain]], which re-orients coarsen output under long order
    * before each level's checkpoint) may reach it. */
  private[graft] def greedyMoveRound(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String],
      selfLoops: Boolean,
      assumeCanonical: Boolean): DataFrame = {
    // assumeCanonical (round 15, [[louvain]]'s fast path): the caller
    // vouches that `edges` is ALREADY the canonical merge — long-castable
    // s ≤ d per `weightCol` semantics, ONE row per unordered pair, and
    // materialized (checkpointed) so repeated reads are leaf scans. Then
    // canonEdges' groupBy is the identity and its exchange + checkpoint
    // are pure overhead — three of them per Louvain level (two move
    // sub-rounds + coarsen). The arithmetic below is a pure function of
    // the canonical (s, d, w) multiset, so the fast path is
    // bit-equivalent (q246 stays hash-green; ModularitySpec pins the
    // ladder identities).
    val canon =
      if (assumeCanonical) edges.select(col("src").cast("long").as("s"),
        col("dst").cast("long").as("d"),
        weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L)).as("w"))
      else canonEdges(edges, weightCol, selfLoops)
        .localCheckpoint(true)
        .transform(CacheScope.pinCheckpointed)
    val mem = membership.select(col("node_id").cast("long").as("node_id"),
      col("community").cast("string").as("community"))
    // Self-loop algebra (the COARSE-graph face, selfLoops = true): a
    // node's self-loop travels WITH it on any move, so it cancels out
    // of the gain — the Δ formula below is unchanged — PROVIDED d_i
    // includes the self-loop's 2w (both endpoint slots) while w(i,c)
    // excludes it (a self-loop links i to no other node). Hence: `sym`
    // (feeding the neighbor tag and w_ic) is built from the non-self
    // pairs only; `deg` adds 2w per self-loop; W keeps the self mass.
    val nonSelf =
      if (selfLoops) canon.filter(col("s") < col("d")) else canon
    val sym = nonSelf.select(col("s").as("i"), col("d").as("j"), col("w"))
      .union(nonSelf.select(col("d").as("i"), col("s").as("j"), col("w")))
    // Neighbor-community tag. No per-row null gate here: downstream
    // joins on cj are null-rejecting, so Catalyst INFERS isnotnull(cj)
    // and would evaluate it below a row-level raise — the unmapped rows
    // would silently vanish instead of refusing (the constraint-
    // inference twin of the ADVICE-r11 column-pruning gate bug). The
    // violation instead RIDES THE AGGREGATE as a NULL-community group
    // in wic and gates the output as its LEADING union branch — the
    // finalizeStats discipline, which no inference, pruning, emptiness
    // folding, or limit short-circuit can remove.
    val tagged = sym
      .join(mem.select(col("node_id").as("j"), col("community").as("cj")),
        Seq("j"), "left")
    // NOTE (round 16, pins tried and REVERTED): deg feeds the s_c
    // aggregate AND the candidate join, and s_c broadcasts under two
    // different projections — the committed q239 plan shows deg built
    // twice and s_c twice. Pinning both (eager checkpoints) cut the
    // duplication but COST far more than it saved wherever the round
    // runs repeatedly on small graphs: louvain invokes this operator
    // 2×/level, and the two extra eager materialization jobs per
    // sub-round took q246 from 8.0 s to 26.4 s (deg+sc pinned) / 16.4 s
    // (sc only) at sf0.1 — the duplicated subtrees are leaf scans +
    // node-sized aggregates, cheaper than the pin jobs that replace
    // them. Recompute-per-consumer is the right trade here.
    val deg = (if (selfLoops)
        sym.select(col("i"), col("w")).unionByName(
          canon.filter(col("s") === col("d"))
            .select(col("s").as("i"), (col("w") * 2L).as("w")))
      else sym)
      .groupBy(col("i")).agg(sum(col("w")).as("d_i"))
    // Pinned: read three times (candidate targets, w(i,a), the gate).
    val wicAll = tagged.groupBy(col("i"), col("cj"))
      .agg(sum(col("w")).as("w_ic"))
      .localCheckpoint(true)
      .transform(CacheScope.pinCheckpointed)
    // Row existence, not weight mass (ADVICE r12): an endpoint reached
    // only by zero-weight edges has w_ic = 0 and a mass gate would pass
    // it straight into the null-rejecting joins, silently dropping the
    // node's candidates. A null-cj GROUP in the aggregate is the
    // violation regardless of its weight. Self-loop endpoints are gated
    // SEPARATELY (ADVICE r13): a node whose only edge is its self-loop
    // forms no sym pair — no null-cj group ever appears in wicAll — yet
    // an unmapped one silently drops its 2w degree from s_c; count those
    // endpoints with their own membership left-join and fold the two
    // 1-row aggregates into one gate row.
    val wicUnmapped = wicAll
      .agg(count(when(col("cj").isNull, lit(1))).as("unmapped_rows"),
        coalesce(sum(when(col("cj").isNull, col("w_ic"))), lit(0L))
          .as("unmapped"))
    val unmapped = if (!selfLoops) wicUnmapped else wicUnmapped
      .unionByName(canon.filter(col("s") === col("d"))
        .select(col("s").as("node_id"), col("w"))
        .join(mem.select(col("node_id"), col("community").as("cself")),
          Seq("node_id"), "left")
        .agg(count(when(col("cself").isNull, lit(1))).as("unmapped_rows"),
          coalesce(sum(when(col("cself").isNull, col("w") * 2L)), lit(0L))
            .as("unmapped")))
      .agg(coalesce(sum(col("unmapped_rows")), lit(0L)).as("unmapped_rows"),
        coalesce(sum(col("unmapped")), lit(0L)).as("unmapped"))
    val wic = wicAll.filter(col("cj").isNotNull)
    val sc = deg.join(mem.select(col("node_id").as("i"), col("community")),
        Seq("i"))
      .groupBy(col("community")).agg(sum(col("d_i")).as("s_c"))
    val wTot = canon.agg(sum(col("w")).as("w_tot"))
    // Candidates: i's neighbor communities other than its own. w(i,a)
    // left-joins (a node with no same-community neighbor has w_ia = 0).
    val self = mem.select(col("node_id").as("i"), col("community").as("a"))
    val cand = wic
      .join(self, Seq("i"))
      .filter(col("cj") =!= col("a"))
      .join(wic.select(col("i"), col("cj").as("a"), col("w_ic").as("w_ia")),
        Seq("i", "a"), "left")
      .join(deg, Seq("i"))
      .join(broadcast(sc.select(col("community").as("cj"),
        col("s_c").as("s_b"))), Seq("cj"))
      .join(broadcast(sc.select(col("community").as("a"),
        col("s_c").as("s_a"))), Seq("a"))
      .crossJoin(broadcast(wTot))
      .select(col("i"), col("a"), col("cj"),
        (lit(4L) * col("w_tot") * (col("w_ic") - coalesce(col("w_ia"), lit(0L)))
          - lit(2L) * col("d_i") * (col("s_b") - col("s_a") + col("d_i")))
          .as("dq"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i")).orderBy(col("dq").desc, col("cj"))
    val moves = cand
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1 && col("dq") > 0)
      .select(col("i").as("node_id"), col("cj").as("to_c"), col("dq"))
    // The gate is the LEADING union branch of the output, riding the
    // 1-row aggregate: zero rows when coverage holds (the when folds
    // to false), a raise when it doesn't. See finalizeStats for the
    // full catalogue of gate shapes some optimizer/execution path
    // defeats (projected column, output Filter, broadcast crossJoin,
    // trailing branch under limit short-circuiting) — leading-branch-
    // on-an-aggregate survives them all.
    // Sentinels derived from the aggregate so a pushed caller predicate
    // (e.g. the natural movers-only .filter(dq_num > 0)) cannot
    // constant-fold this branch away — see finalizeStats' gate comment
    // (a CASE on the aggregate column; even *0 folds in Spark 4).
    val zeroL = when(col("unmapped_rows") < 0, lit(1L)).otherwise(lit(0L))
    val zeroS = substring(col("unmapped_rows").cast("string"), 1, 0)
    val gateRow = unmapped
      .filter(when(col("unmapped_rows") > 0, raise_error(concat(
          lit("membership must cover every edge endpoint — "),
          col("unmapped_rows").cast("string"),
          lit(" node(s) with unmapped neighbors, endpoint weight "),
          col("unmapped").cast("string"))))
        .otherwise(lit(false)))
      .select(zeroL.as("node_id"), zeroS.as("comm_old"),
        zeroS.as("comm_new"), zeroL.as("dq_num"))
    gateRow.unionByName(mem.join(moves, Seq("node_id"), "left")
      .select(col("node_id"), col("community").as("comm_old"),
        coalesce(col("to_c"), col("community")).as("comm_new"),
        coalesce(col("dq"), lit(0L)).as("dq_num")))
  }

  /**
   * Louvain PHASE 2 — graph coarsening (Blondel et al. 2008 §2): each
   * community becomes a SUPER-NODE; intra-community weight becomes the
   * super-node's SELF-LOOP mass; inter-community weight sums into one
   * super-edge per community pair. The output is an edge list
   * (src, dst, w) — src/dst are the community labels, self-loops
   * included — built so the scorecard is CONSERVED exactly: total
   * weight W(coarse) = W(fine) (every canonical fine edge lands in
   * exactly one coarse group), and for any coarse membership M,
   * communityStats(coarse, M, selfLoops = true) has the same total
   * q_num as communityStats(fine, M ∘ membership) — a self-loop of
   * weight w counts w toward internal mass and 2w toward degree, which
   * is what makes S_c and w_in(c) match across levels (ModularitySpec
   * pins both identities on random graphs).
   *
   * To continue the ladder (move rounds on the coarse graph —
   * [[greedyMoveRound]] with selfLoops = true), community labels must
   * be long-castable: the standard Louvain convention keys communities
   * by node id (singleton init), which satisfies it by construction.
   *
   * Coverage gate: an edge endpoint missing from `membership` refuses
   * at execution time (a silently dropped endpoint would delete its
   * edge mass from the coarse graph) — the leading-union-branch shape
   * with CASE-derived sentinels, as everywhere in this file.
   *
   * Cost shape: one canonical merge, two membership equi-joins
   * (node-sized right sides — broadcast under AQE or co-partitioned at
   * scale), one map-side-combined aggregate on the community-pair key.
   * Output is community-pair-sized — the whole point of phase 2: the
   * next move rounds run on a graph that shrank by the community
   * count.
   *
   * @param selfLoops the INPUT may itself carry self-loops (true when
   *                  coarsening an already-coarse graph — level ≥ 2 of
   *                  a full Louvain run); their mass folds into the
   *                  community's internal weight like any intra edge
   */
  def coarsen(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String] = None,
      selfLoops: Boolean = false): DataFrame =
    coarsen(edges, membership, weightCol, selfLoops,
      assumeCanonical = false)

  /** [[coarsen]] with the canonical-input fast path — private[graft]
    * for the same trust reason as [[greedyMoveRound]]'s (ADVICE r15). */
  private[graft] def coarsen(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String],
      selfLoops: Boolean,
      assumeCanonical: Boolean): DataFrame = {
    // Same fast-path contract as [[greedyMoveRound]]: input already the
    // canonical merge, so skip the identity groupBy.
    val canon =
      if (assumeCanonical) edges.select(col("src").cast("long").as("s"),
        col("dst").cast("long").as("d"),
        weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L)).as("w"))
      else canonEdges(edges, weightCol, selfLoops)
    val mem = membership.select(col("node_id").cast("long").as("node_id"),
      col("community").cast("string").as("community"))
    val tagged = canon
      .join(mem.select(col("node_id").as("s"), col("community").as("cs")),
        Seq("s"), "left")
      .join(mem.select(col("node_id").as("d"), col("community").as("cd")),
        Seq("d"), "left")
      .localCheckpoint(true)
      .transform(CacheScope.pinCheckpointed) // read by the gate AND the output
    val unmapped = tagged
      .agg(count(when(col("cs").isNull || col("cd").isNull, lit(1)))
        .as("unmapped_rows"))
    val zeroL = when(col("unmapped_rows") < 0, lit(1L)).otherwise(lit(0L))
    val zeroS = substring(col("unmapped_rows").cast("string"), 1, 0)
    val gateRow = unmapped
      .filter(when(col("unmapped_rows") > 0, raise_error(concat(
          lit("membership must cover every edge endpoint — "),
          col("unmapped_rows").cast("string"),
          lit(" edge(s) with an unmapped endpoint would lose their "),
          lit("mass in the coarse graph"))))
        .otherwise(lit(false)))
      .select(zeroS.as("src"), zeroS.as("dst"), zeroL.as("w"))
    gateRow.unionByName(tagged
      .select(least(col("cs"), col("cd")).as("src"),
        greatest(col("cs"), col("cd")).as("dst"), col("w"))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w")))
  }

  /**
   * The FULL multi-level Louvain run (Blondel et al. 2008) — the
   * composition of everything above: per level, singleton-init the
   * current graph, run the move phase, score the moved membership
   * ([[communityStats]] — exact integer q_num over the ORIGINAL graph's
   * 4W², comparable across levels because coarsening conserves the
   * scorecard exactly), and if the level gained more than `minGain`
   * compose the moves into the fine membership and [[coarsen]] for the
   * next level; otherwise stop and discard the non-improving round
   * (the standard Louvain termination — a kept regression would poison
   * every later level).
   *
   * The move phase is SEMI-SYNCHRONOUS: two [[greedyMoveRound]]
   * sub-rounds per level, the first applying only EVEN node ids' moves,
   * the second (re-evaluated against the updated membership) only ODD
   * ids'. A single synchronous round deadlocks on pair swaps — two
   * mutually-best nodes defect into each other's abandoned community,
   * Q is unchanged by the relabel, and the level gate reads ΔQ = 0 and
   * stops with the pair never merged (a 5-clique splits {4,1} forever).
   * Parity classes are the standard distributed compromise (the
   * semi-synchronous discipline of Cordasco & Gargano 2012's LPA,
   * used by parallel Louvain implementations like Grappolo): within a
   * class, gains are still "holding others fixed", but a swap needs
   * both sides to move in the SAME sub-round, which parity forbids for
   * the adjacent-id pairs contraction produces. Deterministic: the
   * mask is id arithmetic, both sub-rounds inherit greedyMoveRound's
   * exact-integer tie-breaks.
   *
   * `minGain = Long.MinValue` forces exactly `maxLevels` levels (no
   * early stop — every finite ΔQ exceeds it), which is what puts the
   * whole ladder under a DuckDB oracle (q246 unrolls 3 forced levels
   * CTE-for-CTE; a converged level has zero movers, so forced extra
   * levels are identity maps and both engines agree). Production
   * callers use `minGain = 0`: stop as soon as a level stops strictly
   * improving.
   *
   * Determinism: every level is [[greedyMoveRound]]'s deterministic
   * tie-broken round; the level count under early stop is a pure
   * function of the data. Driver state is one Long (the running Q) and
   * the per-level scorecard rows — never node-sized.
   *
   * Scale shape: level ℓ runs entirely on the ℓ-times-coarsened graph
   * — each level is one canonical merge + the move round's three
   * map-side-combined aggregates + one community-pair contraction, and
   * the graph SHRINKS by the community count per level (the multi-level
   * point; SCALE.md's louvain_levels row measures nodes-per-level
   * shrink at flat wall). Each level's frames are checkpointed so the
   * plan tree stays level-local instead of doubling per level (the
   * deep-walk lesson recorded in docs/SCALE.md), and every intermediate
   * checkpoint releases before return — including [[greedyMoveRound]]'s and
   * [[coarsen]]'s internal ones, which release via a per-call
   * tracking scope, so no ambient [[CacheScope.tracking]] is required
   * around louvain itself (ADVICE r14).
   *
   * @return (membership, scorecard): `membership` = (node_id,
   *         community) over the ORIGINAL nodes — the fine membership
   *         composed through all accepted levels (community labels are
   *         coarse node ids, long-castable); `scorecard` = one row per
   *         accepted level, (level, q_num, n_communities, n_nodes) with
   *         q_num = the total over the fine graph's 4W² after that
   *         level and n_nodes = the level's GRAPH size before
   *         contraction. Level counting starts at 1; a run where no
   *         level improves returns the singleton membership and an
   *         empty scorecard.
   */
  def louvain(edges: DataFrame, weightCol: Option[String] = None,
      maxLevels: Int = 10, minGain: Long = 0L)
      : (DataFrame, DataFrame) = {
    require(maxLevels >= 1, s"maxLevels must be >= 1: $maxLevels")
    val spark = edges.sparkSession
    def cp(df: DataFrame): DataFrame =
      df.localCheckpoint(true).transform(CacheScope.pinCheckpointed)
    // Q of a graph under its SINGLETON membership, in ONE aggregate:
    // per node, internal mass = its self-loop weight and degree =
    // 2·self + Σ incident non-self weight, so
    // q_num = Σ_c (4·W·self_c − deg_c²). By the coarsening conservation
    // identity (ModularitySpec's ladder test) this equals the PREVIOUS
    // level's Q under the moved membership — which is why the loop
    // scores each level off its coarse graph instead of paying a full
    // communityStats pass (4 extra jobs per level) against the fine one.
    def coarseQ(g: DataFrame): Long = {
      val selfW = g.filter(col("src") === col("dst"))
        .select(col("src").as("c"), col("w"))
      val deg = g.filter(col("src") =!= col("dst"))
        .select(col("src").as("c"), col("w"))
        .unionByName(g.filter(col("src") =!= col("dst"))
          .select(col("dst").as("c"), col("w")))
        .unionByName(selfW.select(col("c"), (col("w") * 2L).as("w")))
        .groupBy(col("c")).agg(sum(col("w")).as("d"))
      val wTot = g.agg(coalesce(sum(col("w")), lit(0L)).as("wt"))
      deg.join(selfW.groupBy(col("c")).agg(sum(col("w")).as("sw")),
          Seq("c"), "left")
        .crossJoin(broadcast(wTot))
        .agg(coalesce(sum(lit(4L) * col("wt") * coalesce(col("sw"), lit(0L))
          - col("d") * col("d")), lit(0L)))
        .collect()(0).getLong(0)
    }
    def singletons(g: DataFrame): DataFrame =
      g.select(col("src").as("node_id")).union(g.select(col("dst")))
        .distinct()
        .select(col("node_id").cast("long").as("node_id"),
          col("node_id").cast("string").as("community"))
    // Level-0 graph: ONE canonical merge (self-loops legal on input).
    var g = cp(canonEdges(edges, weightCol, selfLoops = true)
      .select(col("s").as("src"), col("d").as("dst"), col("w")))
    var composed = cp(singletons(g))
    var qPrev = coarseQ(g)
    val scorecard = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long)]
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame](g, composed)
    var level = 0
    var stop = false
    while (level < maxLevels && !stop) {
      var memL = singletons(g)
      for (phase <- 0 to 1) {
        // greedyMoveRound pins its internal canon/wic checkpoints with
        // the AMBIENT CacheScope only — outside a tracking scope they
        // would strand for the session (ADVICE r14). Own scope per
        // sub-round: cp() materializes the masked membership eagerly
        // (localCheckpoint(true)), after which the round's internals
        // are dead and release immediately. cp() itself stays OUTSIDE
        // the scope so the level-local checkpoint it registers is not
        // released here (louvain's `pinned` buffer owns those).
        val (moveRaw, moveCaches) = CacheScope.tracking {
          // g is maintained long-canonical (level 0 via canonEdges; every
          // coarse level re-oriented below before its checkpoint), so the
          // identity re-merge is skipped — 3 exchanges + 2 checkpoint
          // jobs saved per level.
          greedyMoveRound(g, memL, Some("w"), selfLoops = true,
            assumeCanonical = true)
        }
        val memNext = cp(moveRaw
          .select(col("node_id"),
            when(pmod(col("node_id"), lit(2L)) === lit(phase.toLong),
              col("comm_new")).otherwise(col("comm_old"))
              .as("community")))
        moveCaches.release()
        pinned += memNext
        memL = memNext
      }
      val moved = memL
      // Same discipline for coarsen's internal tagged-edges checkpoint.
      val (coarseRaw, coarseCaches) = CacheScope.tracking {
        coarsen(g, moved, Some("w"), selfLoops = true,
          assumeCanonical = true)
      }
      // coarsen's public output canonicalizes community LABELS as strings
      // (lexicographic least/greatest — "10" < "2"), one row per
      // unordered pair. Re-orient each row under LONG order here (a pure
      // projection — uniqueness per pair means no re-aggregation) so the
      // next level's fast path sees exactly what canonEdges would emit.
      val gNext = cp(coarseRaw.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("src"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("dst"),
        col("w")))
      coarseCaches.release()
      pinned += gNext
      val q = coarseQ(gNext) // == Q(g, moved) by conservation
      if (q - qPrev <= minGain) { stop = true }
      else {
        level += 1
        val counts = moved.agg(count(lit(1)).as("n"),
          countDistinct(col("community")).as("c")).collect()(0)
        scorecard += ((level, q, counts.getLong(1), counts.getLong(0)))
        composed = cp(composed.join(
            moved.select(col("node_id").cast("string").as("community"),
              col("community").as("cnew")), Seq("community"))
          .select(col("node_id"), col("cnew").as("community")))
        pinned += composed
        g = gNext
        qPrev = q
      }
    }
    val out = composed
    val sc = spark.createDataFrame(scorecard.toSeq)
      .toDF("level", "q_num", "n_communities", "n_nodes")
    // Re-checkpoint the survivors OFF the tracked frames, then release
    // every per-level intermediate (the loop pinned one graph + one
    // membership + one move table per level).
    val outCp = out.localCheckpoint(true)
    pinned.foreach(CacheScope.unpinCheckpoint)
    (outCp, sc)
  }
}
