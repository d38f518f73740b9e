package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Butterfly counting — the bipartite analog of [[TriangleCount]]
 * (Sanei-Mehri, Sariyüce & Tirthapura 2018): a butterfly is a 2×2
 * biclique (two left nodes sharing two right nodes), THE cohesion
 * motif on bipartite graphs, where triangles cannot exist. On the
 * engine's co-purchase network a butterfly is two customers sharing
 * two suppliers — the co-engagement signal behind "customers like
 * you" and the densest-community seed for bipartite clustering.
 *
 * Per LEFT pair (a < b): `shared` = common right-neighbor count via
 * ONE self-equi-join of the deduped edge list on the right key + ONE
 * map-side-combined count, then `butterflies` = C(shared, 2) exactly
 * (integer DIV — shared·(shared−1) is always even). The wedge frame
 * is Σ_r C(deg r, 2) — the q103 bound on the RIGHT-side degree:
 * linear in edges at bounded degree, quadratic in a hub's own degree.
 * The standard mitigations apply upstream: thin the edge set to the
 * qualifying interactions and cap hub right-nodes — for unipartite
 * graphs that guard is the shared [[GraphOps.degreeCapped]]; here the
 * same idea is a right-degree filter (groupBy dst + semi-join) since
 * only the dst side wedges. The vertex-priority orientation of the
 * literature is the same degree-cap idea expressed per node. At
 * 100 TB, bucket the edge list by the right key once; the self-join
 * reuses the layout. docs/SCALE.md's planted-hub record measures the
 * blow-up and the cap's effect on a hub supplier.
 *
 * @param edges bipartite edge list (`src` = left, `dst` = right, any
 *              castable type; duplicates deduped so multi-edges don't
 *              inflate counts)
 * @return (a, b, shared, butterflies) per left pair with a < b and
 *         shared ≥ 1 — pairs sharing nothing are absent (their
 *         butterfly count is 0 and the frame stays wedge-sized)
 */
object Butterflies {

  def pairCounts(edges: DataFrame): DataFrame = {
    // Pinned: both join branches scan it (q219's derived-graph lesson).
    val e = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
      .transform(CacheScope.pinCheckpointed)
    fromShared(wedgeShared(e))
  }

  /**
   * Associative partial for the streaming face
   * ([[graft.streaming.ArtifactStreams.butterflyStream]]): per left
   * pair (a < b), the shared-right-neighbor count contributed by THIS
   * batch's edges. Shared counts SUM across batches exactly when the
   * batches partition the edge set BY RIGHT NODE (each right node's
   * full edge list arrives within one batch, right nodes never split
   * or repeat — the wedge (a, b, r) lives entirely where r lives);
   * that is the stream contract, and it is the natural one: a new
   * supplier/document/cell arrives WITH its member list. Under it,
   * butterflies = C(Σ shared, 2) at finalize — [[fromShared]] —
   * because the pair's common right neighbors are counted once each
   * across disjoint right-node sets. No per-batch pin: the micro-batch
   * is already materialized, and the two scans are batch-sized.
   */
  def sharedCounts(edges: DataFrame): DataFrame =
    wedgeShared(edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct())

  /** Finalize a (merged) shared-count artifact into the q223 frame:
    * re-aggregate by pair (a no-op on an already-merged artifact — no
    * exchange is added when the child is partitioned on (a, b)) and
    * apply the exact C(shared, 2). */
  def fromShared(partial: DataFrame): DataFrame =
    partial.groupBy(col("a"), col("b"))
      .agg(sum(col("shared")).as("shared"))
      .withColumn("butterflies",
        expr("shared * (shared - 1) DIV 2"))

  private def wedgeShared(e: DataFrame): DataFrame = {
    val l = e.select(col("src").as("a"), col("dst"))
    val r = e.select(col("src").as("b"), col("dst"))
    l.join(r, Seq("dst"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
  }
}
