package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Release path for the internal persisted frames of batch operators.
 *
 * The LSH/dedup/curation operators persist shared intermediate frames
 * (signature tables, candidate sets, pre-collapse maps) because their
 * branches' differing projections defeat Spark's exchange reuse — without
 * the persists each branch re-executes the whole upstream pipeline. Spark's
 * CacheManager holds such entries until an explicit unpersist, so a
 * long-lived session invoking these operators repeatedly would accumulate
 * cache entries without bound (the streaming path's
 * `incrementalMinhashWithCleanup` fixed this for one operator; this scope
 * generalizes the pattern to all of them).
 *
 * Usage:
 * {{{
 *   val (pairs, caches) = CacheScope.tracking {
 *     Dedup.minhashDedup(docs, "id", "text")
 *   }
 *   pairs.write.parquet(out)   // fully consume the result FIRST
 *   caches.release()           // then drop the operator's internal caches
 * }}}
 *
 * Operators register their persists via [[CacheScope.pin]], which is a
 * plain `persist` when no scope is active (the library default: caches live
 * until the caller or session releases them). Registration is synchronous
 * on the calling thread — operator construction is eager even though
 * execution is lazy, so a ThreadLocal scope observes every pin made by the
 * operators invoked inside `tracking`. Scopes nest; pins register with the
 * innermost active scope.
 */
object CacheScope {

  /** Handle over the frames (and checkpoint RDDs) pinned inside one
    * [[tracking]] block. */
  final class TrackedCaches private[CacheScope] (frames: Seq[DataFrame],
      checkpoints: Seq[() => Unit]) {
    def size: Int = frames.size + checkpoints.size
    /** Release every tracked frame/checkpoint. Only call after the tracked
      * result has been fully consumed — they back its lazy plan. */
    def release(): Unit = {
      frames.foreach(_.unpersist(blocking = false))
      checkpoints.foreach(_.apply())
    }
    private[graft] def all: Seq[DataFrame] = frames
  }

  private final class Scope {
    val frames = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val checkpoints = scala.collection.mutable.ListBuffer.empty[() => Unit]
  }

  private val active = new ThreadLocal[Scope]

  /**
   * Harness pinning mode (`-Dgraft.pin.checkpoint=true`, always set by the
   * Bench and Verify mains and by nothing else): pin() eagerly
   * localCheckpoints instead of persisting. On Spark 4, every action
   * over a plan nesting cached adaptive subplans
   * pays DRIVER time generating AQE plan-update strings (exponential in
   * nesting depth — the q41 root cause, see PipelineQueries.corefPipeline);
   * checkpointing truncates each pinned frame to a LogicalRDD leaf, which
   * removes the nesting entirely. Total task work is unchanged (the same
   * stages run once either way) and the jobs run inside the operator
   * invocation, so benches still charge them to the right query. The
   * library DEFAULT stays persist: on a real cluster lineage must survive
   * executor loss, and eager construction-time jobs would surprise
   * composing callers. `level` is ignored in checkpoint mode.
   */
  private def checkpointMode: Boolean =
    java.lang.Boolean.getBoolean("graft.pin.checkpoint")

  /** Persist `df` and register it with the innermost tracking scope (plain
    * persist when none is active). Operator-internal entry point. */
  private[graft] def pin(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val buf = active.get
    // Checkpoint pinning only INSIDE a tracking scope: an unscoped
    // checkpoint's blocks are RDD-level caches that neither the caller's
    // DataFrame.unpersist nor spark.catalog.clearCache can reach — a
    // persist at least stays releasable. Bench/Verify wrap every query in
    // tracking, so the harness path always takes the checkpoint branch.
    if (checkpointMode && buf != null) {
      val out = df.localCheckpoint(true)
      buf.checkpoints += (() => unpinCheckpoint(out))
      out
    } else {
      val out = df.persist(level)
      if (buf != null) buf.frames += out
      out
    }
  }

  /** Register an already-localCheckpoint'ed frame's blocks with the
    * innermost tracking scope (no-op when none is active — the library
    * default keeps the checkpoint alive for the caller). Checkpoint blocks
    * are RDD-level caches a DataFrame unpersist cannot see, so operators
    * that RETURN checkpointed frames (ConnectedComponents) route their
    * release path through here. */
  private[graft] def pinCheckpointed(df: DataFrame): DataFrame = {
    val buf = active.get
    if (buf != null) buf.checkpoints += (() => unpinCheckpoint(df))
    df
  }

  /** Free the cached blocks behind a localCheckpoint'ed frame. Single home
    * of the LogicalRDD-unpersist idiom (used by ConnectedComponents' round
    * rotation, the folding dedup stream, and the pipeline memo cache). */
  private[graft] def unpinCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `body`, collecting every internal persist of the operators invoked
    * inside it. Returns the result plus the handle releasing those caches.
    * If `body` throws, everything pinned so far is released before the
    * exception propagates — a failed-and-retried invocation (e.g. a
    * streaming trigger) must not strand cache entries. */
  def tracking[T](body: => T): (T, TrackedCaches) = {
    val prev = active.get
    val scope = new Scope
    active.set(scope)
    try {
      val r = body
      (r, new TrackedCaches(scope.frames.toList, scope.checkpoints.toList))
    } catch {
      case e: Throwable =>
        scope.frames.foreach(_.unpersist(blocking = false))
        scope.checkpoints.foreach(_.apply())
        throw e
    } finally {
      if (prev == null) active.remove() else active.set(prev)
    }
  }
}
