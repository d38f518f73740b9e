package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CacheScope, Pca}

/**
 * Generic per-trigger artifact folding — the state discipline that
 * [[CurationStreams]] (band logs), [[ChangelogStreams]] (snapshots) and
 * the Bloom/line-digest streams all share, factored once: a carried
 * artifact frame is an ASSOCIATIVE fold of per-batch contributions, so
 * streaming maintenance is `state := fold(state, batch)` per trigger
 * with
 *  - eager bounded-partition checkpoint of the new state BEFORE the
 *    swap (foreachBatch is at-least-once; a retry must re-enter against
 *    intact pre-fold state),
 *  - a batch-id guard (re-delivered batches re-emit, never re-fold),
 *  - release of the previous state's checkpoint blocks after the swap.
 *
 * Any operator whose artifact merges associatively gets a streaming
 * face for free — [[momentsStream]] instantiates it for PCA moments
 * (q115), whose entrywise-integer-sum merge PcaSpec proves equal to the
 * single-shot build; MomentsStreamSpec then pins stream == batch across
 * trigger splits.
 */
object ArtifactStreams {

  /** Fold the stream into a carried artifact; `sink` receives the
    * artifact each trigger. `init` builds the artifact of a first
    * batch; `fold` merges the carried artifact with the next batch. */
  def foldStream(stream: DataFrame)(
      init: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var state: Option[DataFrame] = None
    var lastFolded = -1L
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastFolded) {
          val next0 = state match {
            case Some(s) => fold(s, batch)
            case None => init(batch)
          }
          val p = next0.sparkSession.sessionState.conf.numShufflePartitions
          val next = next0.coalesce(p).localCheckpoint(true)
          state.foreach(CacheScope.unpinCheckpoint)
          state = Some(next)
          lastFolded = batchId
        }
        sink(state.get, batchId)
      }
      .start()
  }

  /** Streaming PCA second-moment maintenance: the q115 artifact kept
    * current over an unbounded vector stream — each trigger computes
    * the batch's own O(d²) moments and entrywise-sums them into the
    * carried artifact (exact integers; order/packing irrelevant). */
  def momentsStream(vecs: DataFrame, vecCol: String, dim: Int)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(vecs)(
      b => Pca.momentsMicro(b, vecCol, dim),
      (s, b) => Pca.mergeMoments(s, Pca.momentsMicro(b, vecCol, dim)))(sink)

  /** Streaming KMV distinct-sketch maintenance: per trigger the batch's
    * own k-minima build merges into the carried artifact (union-rerank —
    * associative and idempotent, so stream == batch exactly, which
    * KmvStreamSpec pins). O(groups·k) carried state; the estimate and
    * the cross-group Jaccard algebra read the artifact at any trigger. */
  def kmvStream(rows: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 64)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(rows)(
      b => graft.operators.Sketches.kmvBuild(b, groupCols, valueCol, k),
      (s, b) => graft.operators.Sketches.kmvMerge(
        s.unionByName(
          graft.operators.Sketches.kmvBuild(b, groupCols, valueCol, k)),
        groupCols, k))(sink)

  /** Streaming release-audit maintenance (the write-audit-publish
    * manifest's incremental face): the carried artifact is the 1-row
    * [[graft.sinks.Manifest.auditFrame]] (count, XOR fold, raw hash
    * sum) of everything delivered so far — each trigger audits only its
    * own batch and merges, so a continuously-appended release can
    * publish a fresh manifest at ANY trigger without rescanning the
    * data. ManifestStreamSpec pins stream == single-shot audit across
    * trigger splits (the merge is commutative-associative, so split
    * points are invisible). `sink` must materialize synchronously (the
    * [[CurationStreams.spanProbeStream]] contract). */
  def manifestAuditStream(rows: DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(rows)(
      b => graft.sinks.Manifest.auditFrame(b),
      (s, b) => graft.sinks.Manifest.mergeAudits(
        s, graft.sinks.Manifest.auditFrame(b)))(sink)

  /** Streaming IVF cell-balance maintenance (q208's report over an
    * unbounded vector stream): the carried artifact is the per-cell
    * count table — each trigger dense-assigns ONLY its own batch and
    * folds by cell sum (associative, so stream == batch exactly —
    * CellStatsStreamSpec pins it), keeping the skew report that tunes
    * nProbe/beamWidth and triggers centroid re-training current as the
    * corpus grows, with no rescan. Read the full report (empty cells,
    * permille) at any trigger via
    * [[graft.operators.Similarity.cellStatsFromCounts]] over the
    * carried artifact. */
  def cellStatsStream(vecs: DataFrame, vecCol: String,
      centroids: Array[Array[Double]])(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(vecs)(
      b => graft.operators.Similarity.cellCounts(b, vecCol, centroids),
      (s, b) => s.unionByName(
        graft.operators.Similarity.cellCounts(b, vecCol, centroids))
        .groupBy(col("cell")).agg(sum(col("n")).as("n")))(sink)

  /** Streaming partition quality: the per-community
    * (internal_edges, degree_sum) counters fold by associative sum —
    * the total edge count is Σ degree_sum / 2, so the artifact carries
    * no global row — and each trigger finalizes against the static
    * membership into q221's exact-integer scorecard. Contract: an
    * append stream of UNIQUE undirected edges (dedupe upstream;
    * repeats mean multigraph semantics, see Modularity.partialStats). */
  def modularityStream(edges: DataFrame, membership: DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(edges)(
      b => graft.operators.Modularity.partialStats(b, membership),
      (s, b) => s.unionByName(
        graft.operators.Modularity.partialStats(b, membership))
        .groupBy(col("community"))
        .agg(sum(col("internal_edges")).as("internal_edges"),
          sum(col("degree_sum")).as("degree_sum")))(
      (art, id) => sink(
        graft.operators.Modularity.finalizeStats(art, membership), id))

  /** Streaming butterfly counting (q223's bipartite cohesion motif over
    * an edge stream): the carried artifact is the per-left-pair shared
    * right-neighbor count, which folds by associative sum under the
    * right-node-complete batch contract (each right node's full edge
    * list arrives in ONE batch — see
    * [[graft.operators.Butterflies.sharedCounts]]); each trigger
    * finalizes C(shared, 2) without touching earlier batches.
    * ButterflyStreamSpec pins stream == batch across right-node splits.
    * Rich-club does NOT get this face: an edge arrival changes its
    * endpoints' degrees and thereby OTHER edges' min-degree tags, so
    * the per-k counters are not a per-batch fold — the streaming path
    * there is dedupe-fold the canonical edge set and re-derive the
    * ladder (one pass over graph-sized, not corpus-sized, state). */
  def butterflyStream(edges: DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(edges)(
      b => graft.operators.Butterflies.sharedCounts(b),
      (s, b) => s.unionByName(graft.operators.Butterflies.sharedCounts(b))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("shared")).as("shared")))(
      (art, id) => sink(graft.operators.Butterflies.fromShared(art), id))

  /** Streaming weighted reservoir (A-ES over an unbounded stream): the
    * carried artifact is the current top-k by the q120 nano-key, and
    * because the key is a pure row property, "top-k of (carried top-k ∪
    * batch keys)" equals the batch-mode sample over everything ever
    * seen — O(k) state, no key ever revisited. */
  def weightedReservoirStream(rows: DataFrame, idCol: String,
      weightCol: String, k: Int, salt: String = "")(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    def topK(df: DataFrame): DataFrame =
      df.orderBy(col("skey").desc, col("id")).limit(k)
    foldStream(rows)(
      b => topK(graft.operators.Curation.aesKeys(b, idCol, weightCol, salt)),
      (s, b) => topK(s.unionByName(
        graft.operators.Curation.aesKeys(b, idCol, weightCol, salt))))(sink)
  }

  /** Streaming decay-artifact maintenance (q139's trending signal over
    * an unbounded event stream): each trigger folds the batch's
    * (key, period) integer cells into the carried artifact by cell sum —
    * the merge DecaySpec proves equal to the single-shot build — so
    * [[graft.operators.Decay.decayRead]] over the artifact at ANY
    * trigger is the batch answer over everything delivered. State is
    * O(keys · 63) regardless of history; advancing the reference
    * instant is `Decay.ageArtifact` on the carried frame, still with no
    * corpus replay. */
  def decayStream(events: DataFrame, keyCols: Seq[String], tsNsCol: String,
      valueCol: String, refTsNs: Long, periodNs: Long)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    def art(b: DataFrame) = graft.operators.Decay.decayArtifact(
      b, keyCols, tsNsCol, valueCol, refTsNs, periodNs)
    foldStream(events)(
      art,
      (s, b) => s.unionByName(art(b))
        .groupBy((keyCols :+ "p").map(col): _*)
        .agg(sum(col("cnt")).as("cnt"), sum(col("sv")).as("sv")))(sink)
  }

  /** Streaming rolling-distinct-actives state (q142 over an unbounded
    * event stream): the carried artifact is the per-key island summary
    * table, whose endpoint-gap merge IntervalsSpec proves equal to a
    * rebuild from raw buckets — so `Intervals.startsFromIslands` over
    * the artifact at any trigger is the batch answer over everything
    * delivered. State is O(keys · islands) (bounded by horizon/W per
    * key), never the raw events. */
  def activeIntervalsStream(events: DataFrame, keyCol: String,
      bucketCol: String, window: Int)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(events)(
      b => graft.operators.Intervals.activeIslands(b, keyCol, bucketCol,
        window),
      (s, b) => graft.operators.Intervals.mergeIslands(s,
        graft.operators.Intervals.activeIslands(b, keyCol, bucketCol,
          window), window))(sink)

  /**
   * Streaming search-index maintenance (R8's posting-list artifact kept
   * current over a document stream): per trigger the batch's own
   * posting rows build ([[graft.sinks.SearchIndex.build]] over the
   * BATCH only — one explode + two clustered aggs) and merge into the
   * carried artifact per (tok, doc_shard): df/tf_total sum, postings
   * sorted-array concat. Associative under the ids-unique-across-stream
   * contract (a doc arrives once, so a cell's postings from different
   * batches are disjoint), so the artifact at every trigger equals the
   * batch build over everything delivered (SearchIndexStreamSpec pins
   * it, including served searches). The doc-shard key bounds per-row
   * state exactly as in the batch build — a stop word's postings grow
   * across ≤ nDocShards cells, each ≈ df/nDocShards, so the STREAMING
   * fold inherits the r12 row bound too (the merge's collect_list holds
   * one shard's postings, never a term's corpus).
   */
  def searchIndexStream(docs: DataFrame, idCol: String, textCol: String,
      minTokenLen: Int = 2, nBuckets: Int = 64, nDocShards: Int = 1)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    def build(b: DataFrame): DataFrame = graft.sinks.SearchIndex.build(
      b, idCol, textCol, minTokenLen, nBuckets, nDocShards)
    foldStream(docs)(
      build,
      (s, b) => s.unionByName(build(b))
        .groupBy(col("tok"), col("doc_shard"), col("bucket"))
        .agg(sum(col("df")).as("df"), sum(col("tf_total")).as("tf_total"),
          sort_array(flatten(collect_list(col("postings")))).as("postings"))
        .select(col("tok"), col("doc_shard"), col("df"), col("tf_total"),
          col("postings"), col("bucket")))(sink)
  }

  /**
   * Streaming SQ8/IVF serving-artifact maintenance — the quantize-once
   * corpus artifact ([[graft.operators.Similarity.sq8IvfArtifact]])
   * kept current over an unbounded vector stream. Centroids and the
   * per-dim quantization stats are FROZEN inputs (the production
   * contract: the coarse quantizer and the code scale move only at
   * retrains, or every epoch's codes stop being comparable); each
   * trigger codes and packs ONLY its own batch against them
   * ([[graft.operators.Similarity.sq8CodeBatch]]) and appends — the
   * fold is a pure union, associative and rescan-free, because a
   * vector arrives in exactly one batch. The artifact at every trigger
   * therefore equals the batch coding of everything delivered, and the
   * final artifact serves through
   * [[graft.operators.Similarity.ivfTopKQuantizedServe]] identically
   * to a single-shot build (Sq8StreamSpec pins artifact equality per
   * trigger, served-search equality, and the FAISS-style saturation of
   * out-of-domain arrivals). State is the artifact itself — one packed
   * row per delivered vector, the same O(corpus) a parquet artifact
   * directory would hold.
   */
  def sq8ArtifactStream(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, centroids: Array[Array[Double]], stats: DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(vecs)(
      b => graft.operators.Similarity.sq8CodeBatch(
        b, idCol, vecCol, dim, centroids, stats),
      (s, b) => s.unionByName(graft.operators.Similarity.sq8CodeBatch(
        b, idCol, vecCol, dim, centroids, stats)))(sink)

  /**
   * Streaming PACKED-IVFADC artifact maintenance — the PQ twin of
   * [[sq8ArtifactStream]]: centroids and codebooks are FROZEN inputs
   * (the retrain contract — a moved codebook makes epochs'
   * codes incomparable), each trigger encodes+packs ONLY its own batch
   * ([[graft.operators.Similarity.pqIvfArtifact]] is per-row under
   * frozen parameters, so it IS the batch unit) and appends — a pure
   * rescan-free union fold, associative because a vector arrives in
   * exactly one batch. The artifact at every trigger equals the
   * one-shot build over everything delivered and serves identically
   * through [[graft.operators.Similarity.ivfPqTopKServe]]
   * (PqStreamSpec pins both). State is the artifact itself — one
   * (cell, packed-word) row per delivered vector.
   */
  def pqArtifactStream(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], bits: Int = 4,
      residual: Boolean = false)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    foldStream(vecs)(
      b => graft.operators.Similarity.pqIvfArtifact(
        b, idCol, vecCol, centroids, codebooks, bits, residual),
      (s, b) => s.unionByName(graft.operators.Similarity.pqIvfArtifact(
        b, idCol, vecCol, centroids, codebooks, bits, residual)))(sink)

  /**
   * Streaming connected-components maintenance: labels kept current
   * over an unbounded EDGE stream. The carried artifact is the label
   * table itself — (id, comp) with comp = the component's min member
   * key over everything delivered — re-read as star edges
   * (comp → id) and unioned with each batch before one
   * [[graft.operators.ConnectedComponents.runAlternating]] pass. The
   * fold is associative because a star partition carries exactly the
   * connectivity of the edges it summarizes: components(batch ∪
   * stars(delivered)) == components(batch ∪ delivered), so the
   * artifact at every trigger equals the batch build over everything
   * delivered (CcStreamSpec pins it, including cross-trigger merges of
   * previously-separate components). State is O(nodes) — never the
   * edge history — and each trigger's alternation starts from an
   * almost-star graph, so it converges in a handful of rounds
   * regardless of how long ago the component's edges arrived. strict:
   * an unverified fixpoint raises and the carried state stays intact
   * (foreachBatch is at-least-once; the batch-id guard re-emits
   * without re-folding on redelivery). `sink` receives the label
   * table each trigger and must materialize synchronously.
   *
   * RETENTION (the watermark face — without it carried state is
   * O(all nodes ever seen), which is right for a bounded graph and
   * wrong for the unbounded edge feed this face exists for): with
   * `tsCol` + `retention = Some(r)`, the fold tracks each COMPONENT's
   * latest edge-arrival time (merges take the max, exactly as
   * components themselves merge) and after each fold expires every
   * component whose latest arrival is below max(ts seen) − r — the
   * session-window convention: a component with no activity inside the
   * horizon is closed and its label rows leave the carried state. A
   * batch carrying a timestamp below the watermark RAISES (the
   * [[overlapPairsStream]] lateness contract — loud refusal, never a
   * silent drop), so a label can never silently diverge from the
   * batch build over live components. An edge that re-touches an
   * EXPIRED component's node after expiry starts a FRESH component
   * containing only post-expiry connectivity — the stated semantics of
   * closing a session, pinned by CcStreamSpec. `stateProbe` observes
   * the full carried table each trigger ((id, comp) plus `last_ts`
   * under retention) — the state-size hook a deployment alerts on and
   * what the spec asserts expiry with.
   */
  def connectedComponentsStream(edges: DataFrame, maxIter: Int = 20,
      tsCol: Option[String] = None, retention: Option[Long] = None)(
      sink: (DataFrame, Long) => Unit,
      stateProbe: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    require(retention.forall(_ >= 0), s"retention >= 0: $retention")
    require(retention.isEmpty || tsCol.isDefined,
      "retention needs tsCol: the horizon is measured in edge event time")
    var state: Option[DataFrame] = None
    var lastFolded = -1L
    var highWater: Option[Long] = None
    edges.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastFolded) {
          val in = batch.select(col("src"), col("dst"))
          // Lateness is judged BEFORE the fold runs (ADVICE r13): the
          // check needs only the batch's min/max, and throwing after
          // runAlternating had already materialized the labels
          // checkpoint leaked its blocks on every refused batch.
          retention.foreach { r =>
            val ts = col(tsCol.get).cast("long")
            // NULL event times gate in the SAME 1-row aggregate as the
            // lateness probe (ADVICE r14, found on the sibling face):
            // min/max skip nulls, so a null-ts edge would pass lateness,
            // fold its component's last_ts toward NULL, and the expiry
            // filter (NULL >= wm is NULL) would drop the component
            // SILENTLY — the exact class the loud-refusal contract
            // forbids.
            val mm = batch.agg(min(ts).as("mn"), max(ts).as("mx"),
              count(when(ts.isNull, lit(1))).as("nulls")).collect()(0)
            if (mm.getLong(2) > 0) throw new IllegalStateException(
              s"connectedComponentsStream: batch $batchId contains " +
                s"${mm.getLong(2)} edge(s) with a NULL ${tsCol.get} — " +
                "under retention every edge needs an event time (a null " +
                "would expire silently); filter or default upstream")
            if (!mm.isNullAt(0)) {
              val bMin = mm.getLong(0)
              highWater.map(_ - r).foreach { wm =>
                if (bMin < wm) throw new IllegalStateException(
                  s"connectedComponentsStream: batch $batchId contains " +
                    s"edge time $bMin below the retention watermark $wm " +
                    s"— late beyond retention $r; widen retention or " +
                    "bound upstream disorder")
              }
              highWater = Some(
                highWater.fold(mm.getLong(1))(math.max(_, mm.getLong(1))))
            }
          }
          val all = state match {
            case Some(s) => in.unionByName(
              s.select(col("comp").as("src"), col("id").as("dst")))
            case None => in
          }
          val labels = graft.operators.ConnectedComponents
            .runAlternating(all, maxIter, strict = true)
          retention match {
            case None =>
              // runAlternating already returns an eagerly-materialized
              // localCheckpoint — adopt it as the carried state directly
              // (a second checkpoint would only copy the blocks) and free
              // the superseded trigger's blocks.
              state.foreach(CacheScope.unpinCheckpoint)
              state = Some(labels)
            case Some(r) =>
              val ts = col(tsCol.get).cast("long")
              // Per-component latest arrival, re-keyed through the NEW
              // labels: the carried component key is itself a node id
              // present in the star edges, so one equi-join maps it; the
              // batch contributes each edge's time through its src
              // endpoint (both endpoints share the new component). Max
              // merges exactly as components merge.
              val oldTs = state.map(_
                  .select(col("comp").as("id"), col("last_ts")).distinct())
                .getOrElse(in.select(col("src").as("id"),
                  lit(null).cast("long").as("last_ts")).limit(0))
              val batchTs = batch.select(col("src").cast("string").as("id"),
                ts.as("last_ts"))
              val compLast = oldTs.unionByName(batchTs)
                .join(labels, Seq("id"))
                .groupBy(col("comp")).agg(max(col("last_ts")).as("last_ts"))
              val wm = highWater.map(_ - r)
              val p = batch.sparkSession.sessionState
                .conf.numShufflePartitions
              val next = labels
                .join(wm.fold(compLast)(w =>
                  compLast.filter(col("last_ts") >= lit(w))), Seq("comp"))
                .select(col("id"), col("comp"), col("last_ts"))
                .coalesce(p).localCheckpoint(true)
              CacheScope.unpinCheckpoint(labels)
              state.foreach(CacheScope.unpinCheckpoint)
              state = Some(next)
          }
          lastFolded = batchId
        }
        // Non-retention: hand the sink the checkpointed frame ITSELF —
        // a caller that keeps it releases it via unpinCheckpoint, which
        // no-ops on anything but a bare LogicalRDD. Retention: project
        // the label columns (the carried table also holds last_ts).
        sink(if (retention.isEmpty) state.get
             else state.get.select(col("id"), col("comp")), batchId)
        stateProbe(state.get, batchId)
      }
      .start()
  }

  /**
   * Streaming MEMBERSHIP maintenance under greedy modularity ascent —
   * the Louvain move phase kept current over an unbounded edge stream
   * (the [[modularityStream]] fold pattern, upgraded from scorecard to
   * community assignment). Carried state is graph-sized, never
   * stream-history-sized: the CANONICAL weighted edge table (each
   * batch merges by the one multigraph rule —
   * [[graft.operators.Modularity.canonEdges]]: orientations and
   * repeats sum; for an unweighted stream feed unique edges, the
   * [[modularityStream]] contract) plus the current membership. Per
   * trigger: nodes never seen before enter as SINGLETONS (community =
   * own id — the standard Louvain init), then ONE
   * [[graft.operators.Modularity.greedyMoveRound]] runs over the
   * carried graph against the current membership and its moves apply.
   * The evolution is trigger-granular BY DESIGN (one synchronous round
   * per trigger, the operator's documented unit); what IS
   * trigger-invariant — and what ModularityStreamSpec pins — is (1)
   * the carried edge artifact == the batch canonical merge over
   * everything delivered, whatever the split points, and (2) the
   * membership at trigger i == the OFFLINE loop applying one round per
   * delivered prefix with the same singleton-entry rule. Self-loops in
   * the stream are legal (selfLoops = true throughout — their mass
   * rides internal weight / 2w degree, the coarse-graph algebra).
   * Each trigger's operator checkpoints release via a tracking scope
   * after the new membership materializes — a streaming caller must
   * not accumulate one canon+wic checkpoint pair per trigger forever.
   * `sink` receives (node_id, community) each trigger; `stateProbe`
   * the carried canonical edge table (plus `last_ts` under retention).
   *
   * RETENTION (the watermark face — VERDICT r13 #2: without it the
   * carried canonical edge table is "graph-sized", but on the
   * unbounded edge feed a streaming face exists for, graph-sized IS
   * unbounded): with `tsCol` + `retention = Some(r)`, every canonical
   * edge carries its latest arrival time (the within-batch merge takes
   * max over orientations/repeats, the cross-batch merge takes max
   * exactly as weights sum), and after each fold edges whose latest
   * arrival is below max(ts seen) − r EXPIRE from the carried graph; a
   * node with no live edge leaves the membership with them. A batch
   * carrying a timestamp below the watermark RAISES before anything
   * folds (the [[connectedComponentsStream]] lateness contract — loud
   * refusal, never a silent drop). A node re-touched after expiry
   * re-enters as a FRESH singleton — the session-close semantics; its
   * community history is gone with its edges, so the move round
   * re-derives structure from live mass only. ModularityStreamSpec
   * pins state-pinned-to-the-horizon, the stream == offline-replay-
   * with-the-same-retention-rule identity, and the late refusal.
   *
   * `dedupeDelivery = true` (unweighted face only) makes at-least-once
   * feeds safe: the cross-batch merge takes MIN instead of SUM over
   * the 1-weights, so a fine edge redelivered in a later trigger folds
   * to itself instead of double-counting — zero extra state, because
   * the carried canonical edge table IS the seen set (and under
   * retention an edge redelivered after expiry re-enters fresh, the
   * horizon semantics). ModularityStreamSpec pins redelivered == once
   * with the flag on and documents the double-count with it off.
   */
  def greedyMembershipStream(edges: DataFrame,
      weightCol: Option[String] = None,
      tsCol: Option[String] = None,
      retention: Option[Long] = None,
      dedupeDelivery: Boolean = false)(
      sink: (DataFrame, Long) => Unit,
      stateProbe: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    require(retention.forall(_ >= 0), s"retention >= 0: $retention")
    require(retention.isEmpty || tsCol.isDefined,
      "retention needs tsCol: the horizon is measured in edge event time")
    // dedupeDelivery (VERDICT r14 #4): the UNWEIGHTED face's unique-edge
    // contract made cross-trigger redelivery a silent double-count —
    // at-least-once delivery is the streaming norm, so opt in here and
    // the cross-batch merge takes MIN instead of SUM on the 1-weights:
    // a canonical edge already in the carried graph folds to itself,
    // exactly as a within-batch repeat always has. Zero extra state —
    // the carried canonical edge table IS the seen set (under retention
    // an edge redelivered after expiry re-enters fresh, the horizon
    // semantics). A WEIGHTED feed's repeats are intentional mass, so
    // the flag refuses there rather than silently changing algebra.
    require(!dedupeDelivery || weightCol.isEmpty,
      "dedupeDelivery applies to the unweighted face only: a weighted " +
        "feed's repeated edges are intentional mass (sum semantics)")
    var edgeState: Option[DataFrame] = None
    var memState: Option[DataFrame] = None
    var lastFolded = -1L
    var highWater: Option[Long] = None
    edges.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastFolded) {
          val p = batch.sparkSession.sessionState.conf.numShufflePartitions
          // Lateness judged BEFORE any fold work (the CC-stream
          // discipline, ADVICE r13 there): only the batch min/max is
          // needed, and nothing is materialized yet on the throw path.
          retention.foreach { r =>
            val ts = col(tsCol.get).cast("long")
            // NULL event times gate in the SAME 1-row aggregate as the
            // lateness probe (ADVICE r14): min/max skip nulls, so a
            // null-ts edge would pass lateness, fold with
            // last_ts = NULL, and the expiry filter (NULL >= hw − r is
            // NULL) would drop it SILENTLY — the exact class this
            // face's loud-refusal contract forbids.
            val mm = batch.agg(min(ts).as("mn"), max(ts).as("mx"),
              count(when(ts.isNull, lit(1))).as("nulls")).collect()(0)
            if (mm.getLong(2) > 0) throw new IllegalStateException(
              s"greedyMembershipStream: batch $batchId contains " +
                s"${mm.getLong(2)} edge(s) with a NULL ${tsCol.get} — " +
                "under retention every edge needs an event time (a null " +
                "would expire silently); filter or default upstream")
            if (!mm.isNullAt(0)) {
              val bMin = mm.getLong(0)
              highWater.map(_ - r).foreach { wm =>
                if (bMin < wm) throw new IllegalStateException(
                  s"greedyMembershipStream: batch $batchId contains edge " +
                    s"time $bMin below the retention watermark $wm — late " +
                    s"beyond retention $r; widen retention or bound " +
                    "upstream disorder")
              }
              highWater = Some(
                highWater.fold(mm.getLong(1))(math.max(_, mm.getLong(1))))
            }
          }
          val hasTs = retention.isDefined
          // Canonical batch merge — [[Modularity.canonEdges]]'s exact
          // rule (orientations/repeats: weighted SUM, unweighted dedup
          // via min of the 1-literal), inlined here when a timestamp
          // rides along so last_ts folds in the same aggregate.
          val batchCanon =
            if (!hasTs) graft.operators.Modularity.canonEdges(
                batch, weightCol, selfLoops = true)
              .select(col("s").as("src"), col("d").as("dst"), col("w"))
            else {
              val w0 = weightCol.map(c => col(c).cast("long"))
                .getOrElse(lit(1L))
              batch.select(
                  least(col("src").cast("long"), col("dst").cast("long"))
                    .as("s"),
                  greatest(col("src").cast("long"), col("dst").cast("long"))
                    .as("d"),
                  w0.as("w0"), col(tsCol.get).cast("long").as("ts"))
                .groupBy(col("s"), col("d"))
                .agg((if (weightCol.isDefined) sum(col("w0"))
                      else min(col("w0"))).as("w"),
                  max(col("ts")).as("last_ts"))
                .select(col("s").as("src"), col("d").as("dst"), col("w"),
                  col("last_ts"))
            }
          val merged = edgeState match {
            case Some(s) if !hasTs && dedupeDelivery =>
              // set-union semantics: a redelivered canonical edge folds
              // to itself (min over the 1-weights) instead of summing
              s.unionByName(batchCanon).groupBy(col("src"), col("dst"))
                .agg(min(col("w")).as("w"))
            case Some(s) if !hasTs => graft.operators.Modularity.canonEdges(
                s.unionByName(batchCanon), Some("w"), selfLoops = true)
              .select(col("s").as("src"), col("d").as("dst"), col("w"))
            case Some(s) => s.unionByName(batchCanon)
              .groupBy(col("src"), col("dst"))
              .agg((if (dedupeDelivery) min(col("w")) else sum(col("w")))
                .as("w"), max(col("last_ts")).as("last_ts"))
            case None => batchCanon
          }
          // Expiry: drop edges idle beyond the horizon; membership rows
          // for nodes with no live edge leave with them.
          val live = (retention, highWater) match {
            case (Some(r), Some(hw)) =>
              merged.filter(col("last_ts") >= lit(hw - r))
            case _ => merged
          }
          val mergedCp = live.coalesce(p).localCheckpoint(true)
          val nodes = mergedCp.select(col("src").as("node_id"))
            .union(mergedCp.select(col("dst"))).distinct()
          val mem = memState match {
            case Some(ms0) =>
              // Under retention the carried membership restricts to the
              // LIVE node set (inner join) before new singletons enter;
              // without it every carried row survives.
              val ms = if (hasTs) ms0.join(nodes, Seq("node_id")) else ms0
              ms.unionByName(
                nodes.join(ms0.select(col("node_id")), Seq("node_id"),
                    "left_anti")
                  .select(col("node_id"),
                    col("node_id").cast("string").as("community")))
            case None => nodes.select(col("node_id"),
              col("node_id").cast("string").as("community"))
          }
          // The round's internal canon/wic checkpoints release after the
          // new membership is materialized — without the scope each
          // trigger would strand two checkpoint RDDs for the stream's
          // lifetime (the CacheScope leak class).
          val (memNext, caches) = graft.operators.CacheScope.tracking {
            graft.operators.Modularity.greedyMoveRound(
                mergedCp.select(col("src"), col("dst"), col("w")),
                mem, Some("w"), selfLoops = true)
              .select(col("node_id"), col("comm_new").as("community"))
              .coalesce(p).localCheckpoint(true)
          }
          caches.release()
          edgeState.foreach(CacheScope.unpinCheckpoint)
          memState.foreach(CacheScope.unpinCheckpoint)
          edgeState = Some(mergedCp)
          memState = Some(memNext)
          lastFolded = batchId
        }
        sink(memState.get, batchId)
        stateProbe(edgeState.get, batchId)
      }
      .start()
  }

  /**
   * Streaming COARSE-GRAPH maintenance — Louvain phase 2's contraction
   * ([[graft.operators.Modularity.coarsen]]) kept current over an
   * unbounded fine-edge stream under a FIXED membership: once a
   * partition is decided (a batch [[graft.operators.Modularity.louvain]]
   * run, a domain taxonomy), the super-graph it induces stays current
   * without ever re-reading fine history. Carried state is the coarse
   * edge table — COMMUNITY-PAIR-sized, bounded by the membership
   * itself rather than by the stream: the one fold here whose state
   * cannot grow with history at all (contrast
   * [[greedyMembershipStream]]'s graph-sized state and its retention
   * face).
   *
   * Per trigger: the batch contracts through the membership (coarsen's
   * row-existence coverage gate rides along — a batch touching an
   * UNMAPPED node refuses loudly at the fold, never silently dropping
   * its edge mass into the void), and the coarse batch merges into the
   * carried table by the canonical rule (coarsen's output is already
   * least/greatest-canonical on the community labels; orientations and
   * repeats sum — self-loops carry intra-community mass, weight
   * conserved exactly). For an UNWEIGHTED feed (`weightCol = None`)
   * deliver each fine edge once across the stream's lifetime — the
   * [[modularityStream]] / [[greedyMembershipStream]] unique-edge
   * contract: within a batch repeats dedup exactly as the one-shot
   * build does, but a fine edge re-delivered in a LATER trigger has
   * already been folded into its coarse pair's weight and would
   * double-count. An at-least-once feed that cannot honor the
   * contract opts into `dedupeDelivery = true` — see the body comment
   * for the explicit state trade. ModularityStreamSpec pins the fold identity:
   * the carried coarse table at every trigger == one-shot coarsen over
   * everything delivered, whatever the split points, plus exact weight
   * conservation and the unmapped refusal. Each trigger's internal
   * checkpoints release via the tracking scope; the carried state swaps
   * pin-for-pin.
   */
  def coarseGraphStream(edges: DataFrame, membership: DataFrame,
      weightCol: Option[String] = None,
      dedupeDelivery: Boolean = false)(
      sink: (DataFrame, Long) => Unit,
      seenProbe: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    // dedupeDelivery (VERDICT r14 #4): the unweighted unique-edge
    // contract below makes a cross-trigger redelivery a silent
    // double-count, and at-least-once delivery is the streaming norm.
    // Opting in carries a SECOND state — the canonical fine-edge SEEN
    // set — and each batch anti-joins against it before contracting, so
    // a redelivered fine edge folds to nothing. THE TRADE IS EXPLICIT:
    // the seen set is fine-edge-sized, giving up this fold's signature
    // community-pair-sized state bound in exchange for at-least-once
    // safety (`seenProbe` observes it per trigger — the state-size
    // monitoring hook; a deployment that can guarantee exactly-once
    // keeps the flag off and the bounded state). A WEIGHTED feed's
    // repeats are intentional mass, so the flag refuses there.
    require(!dedupeDelivery || weightCol.isEmpty,
      "dedupeDelivery applies to the unweighted face only: a weighted " +
        "feed's repeated edges are intentional mass (sum semantics)")
    var state: Option[DataFrame] = None
    var seenState: Option[DataFrame] = None
    var lastFolded = -1L
    edges.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastFolded) {
          val p = batch.sparkSession.sessionState.conf.numShufflePartitions
          val ((cp, seenCp), caches) = graft.operators.CacheScope.tracking {
            val fine = if (!dedupeDelivery) None
              else Some(graft.operators.CacheScope.pin(
                graft.operators.Modularity.canonEdges(batch, None)
                  .select(col("s").as("src"), col("d").as("dst"))))
            val toFold = (fine, seenState) match {
              case (Some(f), Some(seen)) =>
                f.join(seen, Seq("src", "dst"), "left_anti")
              case (Some(f), None) => f
              case _ => batch
            }
            val batchCoarse = graft.operators.Modularity.coarsen(
              toFold, membership, weightCol)
            val merged = state match {
              case Some(s) => s.unionByName(batchCoarse)
                .groupBy(col("src"), col("dst"))
                .agg(sum(col("w")).as("w"))
              case None => batchCoarse
            }
            val seenNext = fine.map { f =>
              seenState.fold(f)(_.unionByName(f).distinct())
                .coalesce(p).localCheckpoint(true)
            }
            (merged.coalesce(p).localCheckpoint(true), seenNext)
          }
          caches.release()
          state.foreach(CacheScope.unpinCheckpoint)
          seenState.foreach(CacheScope.unpinCheckpoint)
          state = Some(cp)
          seenState = seenCp
          lastFolded = batchId
        }
        sink(state.get, batchId)
        seenState.foreach(seenProbe(_, batchId))
      }
      .start()
  }

  /**
   * Streaming interval-overlap SELF-join (q228's operator over a
   * continuously-arriving interval stream — incident/session windows
   * landing trigger by trigger): each trigger emits exactly the
   * overlapping pairs INVOLVING its batch — batch × carried-set plus
   * batch × batch under an id tie-break — then folds the batch's
   * intervals into the carried set. Every unordered pair therefore
   * fires exactly once, in the trigger its LATER member arrives, and
   * the cumulative emission equals the one-shot
   * [[graft.operators.IntervalJoin.overlapJoin]] self-join over
   * everything delivered (IntervalStreamSpec pins it across trigger
   * splits). Carried state is the INTERVAL TABLE itself (id, start,
   * end — the growing session artifact), never the pair set: state is
   * O(intervals) and the per-trigger work is one grid equi-join of the
   * batch against it — the q75 probe-then-fold discipline on the
   * interval family. Contract: ids unique across the stream (re-key
   * upstream); `sink` must materialize synchronously; at-least-once
   * re-delivery re-emits the batch's pairs but never re-folds (the
   * [[foldStream]] batch-id guard, inlined because emission here needs
   * the BATCH, not the artifact).
   *
   * RETENTION (the watermark face — without it carried state grows for
   * the stream's lifetime, which is right for a bounded session table
   * and wrong for an unbounded feed): with `retention = Some(r)`,
   * arrivals are contracted to start ≥ max(start seen) − r — a later
   * batch violating it RAISES (the Structured-Streaming lateness
   * semantics, refused loudly instead of silently dropping pairs) —
   * and after each fold the carried table expires intervals with
   * end < max(start seen) − r, which by the same contract can never
   * overlap anything still to come. State is then O(intervals inside
   * the retention horizon); the per-trigger min/max probe is one
   * 1-row aggregate over the BATCH. `stateProbe` (optional) observes
   * the carried table each trigger — the state-size monitoring hook a
   * deployment alerts on, and what the spec uses to assert expiry.
   */
  def overlapPairsStream(intervals: DataFrame, idCol: String,
      startCol: String, endCol: String, bucket: Long, maxSpan: Int = 1024,
      retention: Option[Long] = None)(
      sink: (DataFrame, Long) => Unit,
      stateProbe: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    require(retention.forall(_ >= 0), s"retention >= 0: $retention")
    var state: Option[DataFrame] = None
    var lastFolded = -1L
    var highWater: Option[Long] = None
    intervals.writeStream
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = batch0
          .select(col(idCol), col(startCol), col(endCol))
        val l = batch.select(col(idCol).as("l_id"),
          col(startCol).as("l_start"), col(endCol).as("l_end"))
        def rSide(df: DataFrame): DataFrame = df.select(col(idCol).as("r_id"),
          col(startCol).as("r_start"), col(endCol).as("r_end"))
        // within-batch pairs once (id tie-break), plus batch × carried —
        // the carried side holds only strictly-earlier intervals, so no
        // pair can fire twice across triggers. On a RE-DELIVERED batch
        // the carried table already contains the batch itself (the fold
        // ran on first delivery): anti-joining the batch's ids back out
        // reconstructs the pre-fold carried set exactly (ids unique
        // across the stream), so re-emission repeats the original pairs
        // instead of inventing self-pairs and double orientations.
        // (Under retention, rows the first fold expired are gone — the
        // re-emission is then a SUBSET of the original, which
        // at-least-once delivery already covers; never wrong pairs.)
        val carried = state.map(s =>
          if (batchId > lastFolded) s
          else s.join(batch.select(col(idCol)), Seq(idCol), "left_anti"))
        val within = graft.operators.IntervalJoin.overlapJoin(
            l, rSide(batch), "l_start", "l_end", "r_start", "r_end",
            bucket, maxSpan)
          .filter(col("l_id") < col("r_id"))
        val pairs = carried match {
          case Some(s) => within.unionByName(
            graft.operators.IntervalJoin.overlapJoin(
              l, rSide(s), "l_start", "l_end", "r_start", "r_end",
              bucket, maxSpan))
          case None => within
        }
        sink(pairs, batchId)
        if (batchId > lastFolded) {
          // Retention bookkeeping (fold-guarded: a re-delivered batch
          // must not be re-judged against a high-water mark its own
          // first delivery advanced).
          val wmNew = retention.flatMap { r =>
            // cast("long"): the probe must accept every integral column
            // type the join path accepts (fd casts coordinates to long;
            // a raw getLong on an INT column would ClassCastException
            // exactly when the watermark feature is enabled).
            // NULL coordinates gate in the SAME 1-row aggregate as the
            // lateness probe (the ADVICE-r14 class, fixed on all three
            // retention faces): min/max skip nulls, so a null-start or
            // null-end interval would pass lateness and then be dropped
            // SILENTLY by the expiry filter (NULL >= wm is NULL).
            val mm = batch.agg(min(col(startCol).cast("long")),
              max(col(startCol).cast("long")),
              count(when(col(startCol).isNull || col(endCol).isNull,
                lit(1)))).collect()(0)
            if (mm.getLong(2) > 0) throw new IllegalStateException(
              s"overlapPairsStream: batch $batchId contains " +
                s"${mm.getLong(2)} interval(s) with a NULL $startCol/" +
                s"$endCol — under retention every interval needs both " +
                "coordinates (a null would expire silently); filter or " +
                "default upstream")
            if (mm.isNullAt(0)) highWater.map(_ - r)
            else {
              val (bMin, bMax) = (mm.getLong(0), mm.getLong(1))
              highWater.map(_ - r).foreach { wm =>
                if (bMin < wm) throw new IllegalStateException(
                  s"overlapPairsStream: batch $batchId contains start " +
                    s"$bMin below the retention watermark $wm — late " +
                    s"beyond retention $r; widen retention or bound " +
                    "upstream disorder")
              }
              highWater = Some(highWater.fold(bMax)(math.max(_, bMax)))
              highWater.map(_ - r)
            }
          }
          val p = batch.sparkSession.sessionState.conf.numShufflePartitions
          val folded = state.map(_.unionByName(batch)).getOrElse(batch)
          val next = wmNew.fold(folded)(wm =>
              folded.filter(col(endCol) >= lit(wm)))
            .coalesce(p).localCheckpoint(true)
          state.foreach(CacheScope.unpinCheckpoint)
          state = Some(next)
          lastFolded = batchId
        }
        stateProbe(state.get, batchId)
      }
      .start()
  }
}
