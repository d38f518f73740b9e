package perfbench

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Counters a span reads before and after its body. All are cumulative. */
final case class Counts(jobs: Long, shuffleBytes: Long, busyNs: Long,
    scanNodes: Long, planBytes: Long, filesRead: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, shuffleBytes - o.shuffleBytes,
    busyNs - o.busyNs, scanNodes - o.scanNodes, planBytes - o.planBytes,
    filesRead - o.filesRead)
}

/** One recorded span: a layer call (or a whole pipeline) and what it cost;
  * rows are -1 where they do not apply. */
final case class Span(name: String, parent: Option[String], startNs: Long,
    endNs: Long, counts: Counts, rowsIn: Long, rowsOut: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * Listens to a session and attributes its work to spans.
 *
 * The `SparkListener` side counts jobs, shuffle bytes written, the time at
 * least one job was running (busy time), and the bytes of cached blocks
 * held (current and peak), from block-update events. The
 * `QueryExecutionListener` side counts file-scan leaves of every executed
 * plan — walking into adaptive query stages, reused exchanges and cached
 * relations — the files those scans read, and the plan-string bytes.
 *
 * Listener delivery is asynchronous; `snapshot` first drains the bus, so
 * with one client thread everything between two snapshots belongs to the
 * code that ran between them. Plan walking costs listener time, so it is
 * only switched on (`plans = true`) in traced runs.
 */
final class Recorder(spark: SparkSession, plans: Boolean)
    extends SparkListener with QueryExecutionListener {
  private var jobs, shuffleBytes, busyNs, scanNodes, planBytes, filesRead = 0L
  private var active = 0
  private var busySince = 0L
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var cachedBytes, peakCachedBytes = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  spark.sparkContext.addSparkListener(this)
  if (plans) spark.listenerManager.register(this)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    if (plans) spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (active == 0) busySince = System.nanoTime()
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyNs += System.nanoTime() - busySince
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    shuffleBytes += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedBytes += size - blocks.getOrElse(id, 0L)
        if (size == 0L) blocks.remove(id) else blocks(id) = size
        peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    var scans, files = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case f: FileSourceScanExec =>
        scans += 1
        files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _: BatchScanExec => scans += 1
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    val planLen = qe.executedPlan.treeString.length.toLong
    synchronized { scanNodes += scans; filesRead += files; planBytes += planLen }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def drain(): Unit =
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 60000L)

  def snapshot(): Counts = {
    drain()
    synchronized(Counts(jobs, shuffleBytes, busyNs, scanNodes, planBytes, filesRead))
  }

  /** Peak cached-block bytes since the last reset. */
  def peakCached(): Long = { drain(); synchronized(peakCachedBytes) }

  def resetPeak(): Unit = { drain(); synchronized { peakCachedBytes = cachedBytes } }

  /** Time `body` as span `name`; the body returns its rows_out (-1: none). */
  def span(name: String, parent: Option[String], rowsIn: Long)(body: => Long): Long = {
    val before = snapshot()
    val t0 = System.nanoTime()
    val rowsOut = body
    val t1 = System.nanoTime()
    spans += Span(name, parent, t0, t1, snapshot() - before, rowsIn, rowsOut)
    rowsOut
  }
}
