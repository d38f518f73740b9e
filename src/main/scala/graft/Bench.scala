package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bench-only q75 operating point: production probes a PREBUILT corpus
 * band-table artifact (the whole point of [[graft.operators.Dedup
 * .incrementalMinhash]]'s `corpusBands` parameter), so the bench times
 * the artifact build and the probe as SEPARATE lines instead of charging
 * the amortized build to every probe. The artifact is pinned with an
 * eager localCheckpoint (same single-JVM-harness rationale as
 * PipelineQueries.corefPipeline) and rebuilt from cold in each pass.
 *
 * Correctness is unaffected: Verify still runs the declared
 * q75_incremental_neardup (in-flight build) against the DuckDB oracle.
 */
private object Q75Bench {
  @volatile private var artifact: Option[DataFrame] = None

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 4)

  /** Build + materialize the corpus band table (the amortized cost). */
  def build(s: SparkSession, d: String): DataFrame = {
    release()
    val a = graft.operators.Dedup.minhashBandTable(
      corpus(s, d), "doc_id", "text", n = 3, k = 32, bands = 8,
      hash = graft.operators.Dedup.PortableMd5Family)
      .localCheckpoint(true)
    artifact = Some(a)
    a
  }

  /** Probe-only: batch vs the prebuilt artifact (the per-increment cost). */
  def probe(s: SparkSession, d: String): DataFrame = {
    val a = artifact.getOrElse(build(s, d))
    val docs = Tables.documents(s, d)
    graft.operators.Dedup.incrementalMinhash(
      docs.filter(pmod(col("doc_id"), lit(5)) === 4), corpus(s, d),
      "doc_id", "text", n = 3, k = 32, bands = 8, threshold = 0.5,
      hash = graft.operators.Dedup.PortableMd5Family,
      corpusBands = Some(a))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  def release(): Unit = {
    artifact.foreach(graft.operators.CacheScope.unpinCheckpoint)
    artifact = None
  }
}

/**
 * Benchmark main (driver contract): run every declared query on
 * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
 * Each query is forced through the noop sink so the full result set is
 * computed (count() would let Catalyst prune the work).
 *
 * Output contract: the LAST stdout line is a compact single-line JSON
 * (short "qNN" keys, 3-decimal seconds) BYTE-BUDGETED to survive the
 * driver's 2000-byte stdout tail whole — it keeps the slowest queries
 * that fit 1.4 KB plus a "queries_elided" count (everything elided is
 * faster than everything kept); the full-name per-query line is printed
 * immediately before it, and bench_summary.json line 1 carries the
 * complete short-key query + shuffle maps.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional query-name regex (local iteration); driver passes no args.
    val nameFilter = args.headOption.map(_.r)
    // Harness pinning mode, always on here as in Verify — see
    // CacheScope.pin: truncates operator-internal pins to LogicalRDD
    // leaves so timings measure task work, not Spark 4's nested-AQE
    // plan-string rendering on the driver.
    System.setProperty("graft.pin.checkpoint", "true")
    val spark = Sessions.local(Sessions.envCores)
    // Per-query shuffle-bytes telemetry: wall time on a shared host swings
    // 2-5x under co-tenant load, but a plan's shuffle volume doesn't — the
    // bytes column is the regression signal noise can't fake. The bus is
    // flushed around each query so stage completions land in the right
    // delta.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    def flushedShuffleBytes(): Long = {
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext, 10000)
      shuffleBytes.get()
    }
    // Warm up codegen/JIT/scan machinery so the first timed query doesn't
    // absorb session initialization.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(10).write.format("noop").mode("overwrite").save()
    // q75's production operating point probes a prebuilt artifact: time
    // the build and the probe as separate lines (see Q75Bench).
    val benchQueries: Seq[Q] = SparkEntry.allQueries.flatMap { q =>
      if (q.name == "q75_incremental_neardup")
        Seq(Q("q75_artifact_build", Q75Bench.build, None),
          Q(q.name, Q75Bench.probe, None))
      else Seq(q)
    }.filter(q => nameFilter.forall(_.findFirstIn(q.name).isDefined))
    // Two passes, min per query: this host is shared and single-run
    // timings swing 2-5x under external load; min-of-2 reports the plan's
    // actual cost rather than the noisiest co-tenant moment.
    // A query that throws reports -1 (and lands in "failed"), never its
    // wall-clock-to-exception time — a fast failure must not look like a
    // speedup in the JSON.
    def onePass(): Seq[(String, Double, Boolean, Long)] = benchQueries.map { q =>
      val sb0 = flushedShuffleBytes()
      val t0 = System.nanoTime()
      // Track each query's operator-internal persists and release them
      // once the result is fully materialized: a 80+-query sweep otherwise
      // accumulates every LSH/curation cache in the CacheManager, and the
      // later queries run under growing memory/GC pressure.
      val (ok, caches) = graft.operators.CacheScope.tracking {
        try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          false
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val sb = flushedShuffleBytes() - sb0
      caches.release()
      // The coref-pipeline family shares memoized checkpointed
      // intermediates; release after its LAST battery user so later
      // queries don't run under cache/GC pressure. That user is
      // q219_entity_walks (declaration order q40 < q41 < q42 < q214 <
      // q219) — the hook sat on q42 since round 9, which predates
      // q214/q219 and made each of them rebuild the whole coref pipeline
      // from parquet (round-15 baseline: q214 23.5 s, q219 10.8 s; with
      // the release point on the actual last user they reuse the same
      // memo q41/q42 already reuse).
      if (q.name == "q219_entity_walks") {
        graft.queries.PipelineQueries.resetCorefCache(spark)
        spark.catalog.clearCache()
      }
      // Same discipline for the q43/q83 shared signature build: q83 is the
      // family's last user, release its checkpoint blocks there.
      if (q.name == "q83_salted_neardup")
        graft.queries.LlmQueries.resetCache(spark)
      // …and for the q103/q174 shared part-triangle build: q174 is its
      // last battery user (declaration order q103 < q174).
      if (q.name == "q174_clustering_coeff")
        graft.queries.PipelineQueries.resetTriangleCache(spark)
      // …and for the shared co-purchase pair set: q222 is the last of its
      // seven battery users (q94 < q123 < q138 < q145 < q156 < q183 <
      // q188 < q222).
      if (q.name == "q222_lpa_modularity")
        graft.queries.PipelineQueries.resetPairsCache(spark)
      // …and for the shared token table: q60_tfidf is its last battery
      // user (q29-q35, q40-q42 via syntheticMentions, q54/q55, q60).
      if (q.name == "q60_tfidf")
        graft.queries.TextQueries.resetCache(spark)
      (q.name, sec, ok, sb)
    }
    val p1 = onePass().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    graft.queries.PipelineQueries.resetCache(spark)
    graft.queries.LlmQueries.resetCache(spark)
    graft.queries.TextQueries.resetCache(spark)
    Q75Bench.release()
    spark.catalog.clearCache()
    val p2 = onePass().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    Q75Bench.release()
    // Full reset AFTER p2 as well (ADVICE r15): under a nameFilter that
    // includes early family users but excludes the designated last user,
    // the per-query release hooks above never fire, so the coref/pairs/
    // triangle memos would outlive the battery.
    graft.queries.PipelineQueries.resetCache(spark)
    graft.queries.LlmQueries.resetCache(spark)
    graft.queries.TextQueries.resetCache(spark)
    spark.catalog.clearCache()
    def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    // Per query: min-of-2 seconds plus the shuffle bytes of the pass that
    // provided them (bytes are plan-determined and stable across passes).
    val results = benchQueries.map { q =>
      val (s1, ok1, b1) = p1(q.name); val (s2, ok2, b2) = p2(q.name)
      val (sec, bytes) =
        if (ok1 && ok2) { if (s1 <= s2) (s1, b1) else (s2, b2) }
        else if (ok1) (s1, b1) else if (ok2) (s2, b2) else (-1.0, -1L)
      (q.name, r3(sec), bytes)
    }
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // Unique short key per line: the qNN prefix ("q75_artifact_build" is
    // the one bench-only extra sharing q75's number → "q75b"). Collisions
    // fail LOUDLY — a silent duplicate key would corrupt the parsed
    // (last, harness-captured) JSON line.
    def shortKey(name: String): String =
      if (name == "q75_artifact_build") "q75b" else name.takeWhile(_ != '_')
    require(results.map(r => shortKey(r._1)).distinct.size == results.size,
      "short bench keys collide: " + results.map(_._1)
        .groupBy(shortKey).collect { case (k, vs) if vs.size > 1 =>
          s"$k<-{${vs.mkString(",")}}" }.mkString("; "))
    val qsFull = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val shFull = results.map { case (k, _, b) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    // The compact stdout line must survive the driver's 2000-byte tail
    // WHOLE — at 233 queries even the short-key map alone is ~2.8 KB
    // (BENCH_r11 "parsed": null was exactly this), so the compact map
    // carries the SLOWEST queries that fit a 1.4 KB byte budget plus an
    // explicit elision count (everything elided is faster than everything
    // kept — the regression signal survives; the COMPLETE map is the
    // file's line 1 and the full-name stdout line above).
    val qBudget = 1400
    val keptShort = {
      val buf = scala.collection.mutable.ListBuffer[String]()
      var used = 0
      // STOP at the first entry that does not fit — continuing would let
      // a short fast entry slip in after a long slow one was skipped,
      // breaking the "everything elided is faster than everything kept"
      // invariant the queries_elided count is read under.
      val it = results.sortBy(-_._2).iterator
      var fits = true
      while (fits && it.hasNext) {
        val (k, v, _) = it.next()
        val entry = "\"" + shortKey(k) + "\":" + v
        if (used + entry.length + 1 <= qBudget) {
          buf += entry; used += entry.length + 1
        } else fits = false
      }
      buf.toList
    }
    val qsShort = keptShort.mkString("{", ",", "}")
    val qsElided = results.size - keptShort.size
    // Top-10 shuffle writers, short keys, MEGABYTES (keeps the compact
    // line inside the driver's 2000-byte stdout tail): the plan-regression
    // signal survives in the harness artifact even when the full-name line
    // above is truncated away.
    val shTop = results.sortBy(-_._3).take(10)
      .map { case (k, _, b) => "\"" + shortKey(k) + "\":" + (b >> 20) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"shuffle_bytes":$shFull,"failed":$failed,"sf":"$sfDir"}"""
    val compactLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsShort,"queries_elided":$qsElided,"shuffle_mb_top":$shTop,"failed":$failed,"sf":"$sfDir"}"""
    // Full-name line first (for humans / complete logs), with the
    // shuffle-bytes map for plan-regression tracking…
    println(fullLine)
    // …compact line LAST so a bounded stdout tail always captures it whole.
    println(compactLine)
    // A same-shape line also lands in a FILE: stdout tail capture has
    // already mis-parsed once (BENCH_r06 "parsed": null — sbt's [success]
    // trailer was the literal last line), so the artifact no longer depends
    // on it. The FILE's first line carries the COMPLETE short-key query map
    // and the COMPLETE per-query shuffle map (short keys, bytes) — the
    // stdout compact line byte-budgets both to stay inside the driver's
    // 2000-byte tail, but the file has no such limit, so a reader of line 1
    // alone gets the full plan-regression signal (VERDICT r7 #6 / r11 #6).
    val qsShortFull = results
      .map { case (k, v, _) => "\"" + shortKey(k) + "\":" + v }
      .mkString("{", ",", "}")
    val shShort = results.map { case (k, _, b) => "\"" + shortKey(k) + "\":" + b }
      .mkString("{", ",", "}")
    val fileLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsShortFull,"shuffle_bytes":$shShort,"failed":$failed,"sf":"$sfDir"}"""
    // Only a FULL run may replace the artifact: a regex-filtered
    // iteration run would otherwise clobber the committed battery-wide
    // summary with a one-query file.
    if (nameFilter.isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_summary.json"),
        fileLine + "\n" + fullLine + "\n")
    spark.stop()
  }
}
