package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Global sorted-neighborhood clustering in ONE range shuffle.
 *
 * The reference's `combineAdjacentClose` (/root/reference/src/CorefBase
 * .groovy:176-212) merges only sort-ADJACENT keys, so merge components are
 * contiguous runs of the globally sorted key sequence. That structure lets
 * us skip iterative connected components entirely:
 *
 *  1. range-partition + sort the keys (Spark's normal distributed sort);
 *  2. per partition: window lag → edge-with-previous → cumulative segment
 *     counter (narrow, no extra shuffle);
 *  3. partition boundaries: each partition's (first, last) key — at most
 *     2·P tiny rows — are collected, the SAME edge predicate is evaluated
 *     on the driver over the P-1 boundary pairs, and a trivial union-find
 *     chains segments across partitions;
 *  4. the (partition, segment) → global component remap (≤ P entries)
 *     broadcasts back as a join against a literal DataFrame.
 *
 * Cost at any scale: one shuffle + one narrow pass + O(P) driver work.
 * Compare [[ConnectedComponents]] (O(diameter) shuffles) which remains the
 * general tool for non-adjacency edge sets.
 *
 * @param keys distinct single-string-column DataFrame
 * @param edgeCond predicate over (prev, curr) deciding whether adjacent
 *                 sorted keys merge (e.g. levenshtein ≤ 1 + digit guard)
 * @return (key, comp) where comp = the component's smallest key
 */
object SortedSegments {

  /** Separator of a type-keyed key: NUL sorts below every character, so
    * each type's keys form one contiguous run, ordered as their texts. */
  private val TypeSep = "\u0000"

  /** Key of `key` in the key space of `tpe`: several independent key
    * spaces (e.g. one per entity type) then share one [[assign]] run. */
  def typedKey(tpe: Column, key: Column): Column = concat(tpe, lit(TypeSep), key)

  /** Edge predicate over [[typedKey]] keys: keys of different types never
    * link, whatever `edgeCond` says of their texts; same-type keys link
    * when `edgeCond` holds on the texts. */
  def sameType(edgeCond: (Column, Column) => Column): (Column, Column) => Column = {
    (a, b) =>
      val (pa, pb) = (split(a, TypeSep, 2), split(b, TypeSep, 2))
      pa.getItem(0) === pb.getItem(0) && edgeCond(pa.getItem(1), pb.getItem(1))
  }

  def assign(keys: DataFrame, edgeCond: (Column, Column) => Column,
      numPartitions: Int = 0): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val keyCol = keys.columns.head
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val sorted = keys.select(col(keyCol).cast("string").as("k"))
      .repartitionByRange(n, col("k"))
      .sortWithinPartitions("k")
      .withColumn("pid", spark_partition_id())

    val w = Window.partitionBy(col("pid")).orderBy(col("k"))
    val seg = CacheScope.pin(sorted
      .withColumn("prev", lag(col("k"), 1).over(w))
      .withColumn("edge", col("prev").isNotNull && edgeCond(col("prev"), col("k")))
      .withColumn("seg",
        sum(when(col("edge"), 0).otherwise(1))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("k"), col("pid"), col("seg")))

    // Boundary metadata: one tiny row per non-empty partition.
    val bounds = seg.groupBy(col("pid")).agg(
      min(col("k")).as("first_key"),
      max(col("k")).as("last_key"),
      max(col("seg")).as("last_seg"))
      .orderBy(col("pid"))
      .collect()

    // Evaluate the SAME predicate over the P-1 boundary pairs (executed as
    // one tiny Spark job so Column semantics match exactly).
    val boundaryPairs = bounds.sliding(2).collect {
      case Array(a, b) => (a.getInt(0), a.getString(2), b.getInt(0), b.getString(1))
    }.toSeq
    val merges: Seq[(Int, Int)] = if (boundaryPairs.isEmpty) Nil else {
      boundaryPairs.toDF("pid_a", "last_key", "pid_b", "first_key")
        .filter(edgeCond(col("last_key"), col("first_key")))
        .select("pid_a", "pid_b").as[(Int, Int)].collect().toSeq
    }

    // Union-find over (pid, seg) chain roots: partition b's segment 1 joins
    // partition a's last segment when their boundary keys merge.
    val lastSeg = bounds.map(r => r.getInt(0) -> r.getLong(3)).toMap
    val firstKey = bounds.map(r => r.getInt(0) -> r.getString(1)).toMap
    val parent = scala.collection.mutable.Map.empty[(Int, Long), (Int, Long)]
    def find(x: (Int, Long)): (Int, Long) =
      parent.get(x) match {
        case Some(p) if p != x => val r = find(p); parent(x) = r; r
        case _ => x
      }
    merges.foreach { case (a, b) =>
      parent((b, 1L)) = find((a, lastSeg(a)))
    }
    // comp label = smallest key of the root segment: for a root (pid, seg),
    // the smallest key is the segment's first key; resolve via a remap of
    // chained (pid, 1L) roots only (all other segments are their own root
    // and their comp is computed distributively below).
    val remap = parent.keys.toSeq.map { child =>
      val root = find(child)
      (child._1, child._2, root._1, root._2)
    }

    if (remap.isEmpty) {
      // No cross-partition chains: comp = min key per (pid, seg).
      val comps = seg.groupBy(col("pid"), col("seg")).agg(min(col("k")).as("comp"))
      val out = seg.join(comps, Seq("pid", "seg")).select(col("k"), col("comp"))
      out
    } else {
      val remapDf = remap.toDF("pid", "seg", "root_pid", "root_seg")
      val rooted = seg
        .join(broadcast(remapDf), Seq("pid", "seg"), "left_outer")
        .withColumn("gpid", coalesce(col("root_pid"), col("pid")))
        .withColumn("gseg", coalesce(col("root_seg"), col("seg")))
      val comps = rooted.groupBy(col("gpid"), col("gseg")).agg(min(col("k")).as("comp"))
      rooted.join(comps, Seq("gpid", "gseg")).select(col("k"), col("comp"))
    }
  }
}
