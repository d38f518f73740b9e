package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale primitives used across the engine (SURVEY.md §4, prompt mandate:
 * partitioning/bucketing/salting are first-class at 100 TB):
 *
 *  - bucketed tables: co-locate both sides of a recurring equi-join at
 *    write time so the join runs with NO Exchange (verified by plan
 *    inspection in ScaleOpsSpec). This is how the mention/entity/document
 *    tables would be laid out on a real cluster (bucket by entity_id /
 *    doc_id).
 *  - salted join: split hot keys across `saltFactor` sub-keys — the small
 *    side is replicated per salt, the large side scatters via a
 *    deterministic hash — for skew AQE can't fix (e.g. one entity in 30%
 *    of documents).
 */
object ScaleOps {

  /** Write `df` as a bucketed+sorted managed table (parquet). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /**
   * Equi-join `large ⋈ small` on `key` with the hot side salted.
   * Result is identical to `large.join(small, key)` — verified by spec —
   * but the shuffle key becomes (key, salt), spreading a hot key over
   * `saltFactor` reducers.
   */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = large.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** True if the executed plan of `df` contains a shuffle exchange. Reads
    * the plan string, so render it under a session whose
    * `spark.sql.maxPlanStringLength` cap cannot cut the plan short. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /**
   * Small-file compaction: rewrite a parquet directory into
   * ⌈totalBytes / targetBytes⌉ files. The operational counterpart of
   * the layout ops above — long-running ingestion (each trigger writing
   * a few files) degrades a table into thousands of KB-sized files
   * whose per-file open/footer cost dominates scans; periodic
   * compaction restores the scan-friendly shape. Uses the actual
   * on-disk byte total (not row counts — compression ratio varies), one
   * round-robin repartition, one write. Returns the file count chosen.
   * At 100 TB this runs per partition-directory, not per table, and
   * z-ordered tables compact via [[ZOrder.clusterByZ]] instead so the
   * layout survives.
   */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(path).getLength
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  /**
   * Global 1-based row numbers in `sortCols` order WITHOUT the
   * single-partition global Window (`row_number() OVER (ORDER BY …)`
   * moves the ENTIRE dataset to one task — the canonical scale-killer,
   * and exactly what the oracle does, which is the point of the q144
   * hash compare). The distributed zipWithIndex: range-partition on the
   * sort key, sort within partitions, count rows per partition (O(P)
   * driver state, one lightweight job), broadcast the prefix offsets,
   * and number each partition locally — no row ever leaves its range
   * partition after the ONE range shuffle. The per-partition numbering
   * is the one genuinely imperative step, so it is the repo's rare
   * justified `mapPartitions`-class use (via the RDD zip, keeping the
   * schema).
   *
   * `sortCols` must totally order the rows (add a unique tie-break) —
   * with ties the numbering among tied rows is a valid but
   * run-dependent permutation, same as any SQL row_number.
   */
  /**
   * Distributed global cumulative SUM of `valueCol` (a LongType column)
   * in `sortExprs` order — [[globalRowNumbers]] generalized from counts
   * to value prefix-sums, same shape: ONE range shuffle, O(P) driver
   * state (per-partition sums, not rows), broadcast offsets, local
   * accumulation. This is the scale-safe spelling of
   * `sum(v) OVER (ORDER BY ...)`, which Spark executes on a single
   * partition. `sortExprs` must totally order the rows.
   * `valueCol` must be LongType and NON-NULL — nulls have no defined
   * prefix-sum semantics here and fail fast with a named error (both in
   * the O(P) driver pass and at the first null row) rather than a bare
   * NullPointerException deep in the RDD zip (ADVICE r7).
   * Output: input columns + `cum` (inclusive running sum).
   */
  def globalCumSum(df: DataFrame, sortExprs: Seq[Column],
      valueCol: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = CacheScope.pin(
      df.repartitionByRange(p, sortExprs: _*)
        .sortWithinPartitions(sortExprs: _*))
    val sums = sorted.select(spark_partition_id().as("pid"), col(valueCol))
      .groupBy(col("pid")).agg(sum(col(valueCol)).as("s"))
      .collect().map { r =>
        require(!r.isNullAt(1), s"globalCumSum: value column '$valueCol' " +
          s"is all-null in partition ${r.getInt(0)} — non-null LongType required")
        r.getInt(0) -> r.getLong(1)
      }.toMap
    val offsets = (0 until p).scanLeft(0L) {
      case (acc, i) => acc + sums.getOrElse(i, 0L)
    }.toArray
    val bc = spark.sparkContext.broadcast(offsets)
    val idx = sorted.schema.fieldIndex(valueCol)
    val cumValueCol = valueCol
    val rdd = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var acc = bc.value(i)
      it.map { r =>
        if (r.isNullAt(idx)) throw new IllegalArgumentException(
          s"globalCumSum: null in value column '$cumValueCol' — non-null LongType required")
        acc += r.getLong(idx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
      }
    }
    spark.createDataFrame(rdd, sorted.schema.add("cum",
      org.apache.spark.sql.types.LongType, nullable = false))
  }

  /**
   * Distributed EXCLUSIVE running max of `valueCol` (LongType) in
   * `sortExprs` order — the scale-safe `max(v) OVER (ORDER BY … ROWS
   * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`: one range shuffle,
   * O(P) per-partition maxima on the driver, broadcast exclusive prefix
   * maxima, local scan. Output: input columns + `run_max` (null for the
   * globally first row — no predecessor). The skyline/frontier
   * primitive: a row is non-dominated iff it beats every earlier row's
   * max. `sortExprs` must totally order the rows. `valueCol` must be
   * LongType and NON-NULL — nulls fail fast with a named error.
   */
  def globalRunningMax(df: DataFrame, sortExprs: Seq[Column],
      valueCol: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = CacheScope.pin(
      df.repartitionByRange(p, sortExprs: _*)
        .sortWithinPartitions(sortExprs: _*))
    val maxes = sorted.select(spark_partition_id().as("pid"), col(valueCol))
      .groupBy(col("pid")).agg(max(col(valueCol)).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // prefix(i) = max over partitions < i (None when they are all empty).
    val prefix = (0 until p).scanLeft(Option.empty[Long]) {
      case (acc, i) => (acc ++ maxes.get(i)).reduceOption(_ max _)
    }.toArray
    val bc = spark.sparkContext.broadcast(prefix)
    val idx = sorted.schema.fieldIndex(valueCol)
    val maxValueCol = valueCol
    val rdd = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var acc = bc.value(i)
      it.map { r =>
        if (r.isNullAt(idx)) throw new IllegalArgumentException(
          s"globalRunningMax: null in value column '$maxValueCol' — non-null LongType required")
        val out = org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ acc.map(java.lang.Long.valueOf).orNull)
        val v = r.getLong(idx)
        acc = Some(acc.fold(v)(_ max v))
        out
      }
    }
    spark.createDataFrame(rdd, sorted.schema.add("run_max",
      org.apache.spark.sql.types.LongType, nullable = true))
  }

  def globalRowNumbers(df: DataFrame, sortCols: Seq[String],
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = CacheScope.pin(
      df.repartitionByRange(p, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*))
    val counts = sorted.select(spark_partition_id().as("pid"))
      .groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L) {
      case (acc, i) => acc + counts.getOrElse(i, 0L)
    }.toArray
    val bc = spark.sparkContext.broadcast(offsets)
    val rdd = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var n = bc.value(i)
      it.map { r =>
        n += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }
    spark.createDataFrame(rdd, sorted.schema.add("row_num",
      org.apache.spark.sql.types.LongType, nullable = false))
  }
}
