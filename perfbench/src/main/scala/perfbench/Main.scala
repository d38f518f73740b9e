package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Ingest benchmark: one cold pipeline ingest per run, then a closed loop
 * (one client) of search and browse reads over what it wrote, for
 * `--seconds` (at least one round).
 *
 * {{{
 *   python3 perfbench/run.py --workload dense --seed 1 --seconds 1 --trace 0
 * }}}
 *
 * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the traced
 * passes instead and prints the per-layer metrics. The last stdout line is
 * one JSON object: correct, attempted, failed, metrics.
 */
object Main {

  final case class Workload(spec: Corpus.Spec, why: String)

  val Workloads: Map[String, Workload] = Map(
    "dense" -> Workload(Corpus.Spec(docs = 200, personMentions = 12, orgMentions = 3,
      locMentions = 2), "entity-dense: coref, geocode and the social network do the work"),
    "plain" -> Workload(Corpus.Spec(docs = 500, personMentions = 0, orgMentions = 0,
      locMentions = 0), "no names: coref gets no rows; extract, index and export do the work"))

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3
  /** A serve round is one query of each kind: keyword, phrase, browse.
    * After the ingest, rounds run until `--seconds` have passed (at least
    * one round). */
  val RoundQueries = 3
  /** Queries of each kind in the traced run. */
  val TracedQueriesPerKind = 3
  /** Local cores the session uses. Capped so a run costs about the same on
    * any host; RunIngester's shape (shuffle partitions = cores) is kept. */
  val MaxCores = 4

  final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val code =
      try run(opts)
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = m.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    Options(workload, m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    // RunIngester's session: shuffle partitions = cores, AQE on, no plan
    // string cap and no checkpoint pinning.
    val cpus = math.min(MaxCores, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def host(): String = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    f"cpus=${Runtime.getRuntime.availableProcessors()} " +
      f"memory_gb=${os.getTotalMemorySize / 1e9}%.1f " +
      s"jdk=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION}"
  }

  private val started = System.nanoTime()
  /** Progress to stderr, so stdout stays the result. */
  private def progress(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.1f s: $msg")

  def run(o: Options): Int = {
    val w = Workloads(o.workload)
    println(s"host: ${host()}")
    println(s"workload: ${o.workload} (${w.why}), seed ${o.seed}, trace ${if (o.trace) 1 else 0}")
    deleteTree(o.work)
    Files.createDirectories(o.work)

    // Set-up: generate and write the corpus, start a session. Repeated so
    // setup_s is a median; the last session stays up for the measurement.
    var spark: SparkSession = null
    var gen: Corpus.Generated = null
    val setups = (0 until SetupRepeats).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      gen = Corpus.generate(w.spec, o.seed)
      Corpus.write(gen, o.work.resolve(s"corpus$k"), o.work.resolve(s"truth$k.tsv"))
      spark = session(o.work)
      (System.nanoTime() - t0) / 1e9
    }
    progress(f"set-up x$SetupRepeats: ${setups.mkString(", ")}")
    val corpus = o.work.resolve(s"corpus${SetupRepeats - 1}").toString
    val rec = new Recorder(spark, plans = o.trace)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    def check(what: String)(ok: Boolean): Unit = {
      attempted += 1
      if (!ok) failures += what
    }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val t0 = System.nanoTime()
        val art = Pipeline.staged(spark, corpus, o.work.resolve("staged").toString)
        val ingestS = (System.nanoTime() - t0) / 1e9
        val cachePeak = rec.peakCached()
        progress(f"ingest $ingestS%.2f s")
        val tables = Checks.collect(spark, art)
        Checks.verify(gen, tables).foreach { case (what, ok) => check(what)(ok) }
        val (precision, recall) = Checks.corefPrecisionRecall(gen, tables)
        val geoRecall = Checks.geocodeRecall(gen, tables)

        progress("checks done")
        val oracle = new Serve.Oracle(gen, tables)
        val qs = Serve.queries(gen, RoundQueries * 100, o.seed)
        val rounds = mutable.ArrayBuffer.empty[Double]
        val serveStart = System.nanoTime()
        while (rounds.isEmpty ||
            ((System.nanoTime() - serveStart) / 1e9 < o.seconds && rounds.size < 100)) {
          val round = qs.slice(rounds.size * RoundQueries, (rounds.size + 1) * RoundQueries)
          val expected = round.map(oracle.answer)
          val r0 = System.nanoTime()
          val got = round.map(Serve.run(spark, art, _))
          rounds += (System.nanoTime() - r0) / 1e6
          round.indices.foreach(i => check(s"query ${round(i)}")(got(i) == expected(i)))
        }
        progress(f"served ${rounds.size} rounds in ${(System.nanoTime() - serveStart) / 1e9}%.2f s")
        println(s"query_round_ms is the median of ${rounds.size} rounds of $RoundQueries queries")
        Seq(
          ("ingest_s", ingestS, "s"),
          ("docs_per_s", gen.docs.size / ingestS, "docs/s"),
          ("output_mb", Checks.artifactBytes(art) / 1e6, "MB"),
          ("cache_peak_mb", cachePeak / 1e6, "MB"),
          ("coref_precision", precision, "ratio"),
          ("coref_recall", recall, "ratio"),
          ("geocode_recall", geoRecall, "ratio"),
          ("query_round_ms", median(rounds.toSeq), "ms"),
          ("setup_s", median(setups), "s"))
      } else traced(spark, rec, gen, corpus, o, check)

    rec.close()
    spark.stop()

    val failed = failures.size
    failures.take(20).foreach(f => System.err.println(s"FAILED: $f"))
    println(f"${"metric"}%-44s ${"value"}%14s  unit")
    metrics.foreach { case (n, v, u) => println(f"$n%-44s $v%14.4f  $u") }
    println(f"${"failed_frac"}%-44s ${failed.toDouble / math.max(attempted, 1)}%14.4f  ratio")
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${v}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {$json}}""")
    if (failed == 0) 0 else 1
  }

  /** The traced run: (a) the staged ingest with plan listeners on, (b) the
    * layer-by-layer pass, then traced serve queries. */
  private def traced(spark: SparkSession, rec: Recorder, gen: Corpus.Generated,
      corpus: String, o: Options, check: String => Boolean => Unit): Seq[(String, Double, String)] = {
    rec.resetPeak()
    var a: Artifacts = null
    rec.span("Ingester.stages", None, gen.docs.size.toLong) {
      a = Pipeline.staged(spark, corpus, o.work.resolve("staged").toString); -1L
    }
    val cachePeakA = rec.peakCached()
    val digestA = Checks.digest(spark, a)
    spark.catalog.clearCache()
    val b = Pipeline.layered(spark, rec, corpus, gen.docs.size.toLong,
      o.work.resolve("layered").toString)
    val digestB = Checks.digest(spark, b)
    digestA.keys.toSeq.sorted.foreach { k =>
      check(s"artifact $k: staged ${digestA(k)} != layered ${digestB.get(k)}")(
        digestB.get(k).contains(digestA(k)))
    }

    val tables = Checks.collect(spark, a)
    Checks.verify(gen, tables).foreach { case (what, ok) => check(what)(ok) }
    val oracle = new Serve.Oracle(gen, tables)
    val byKind = Serve.queries(gen, TracedQueriesPerKind * 3, o.seed).groupBy(_.span)
    val serveSpans = byKind.keys.toSeq.sorted.map { kind =>
      val qs = byKind(kind).take(TracedQueriesPerKind)
      val before = rec.spans.size
      qs.foreach { q =>
        val expected = oracle.answer(q)
        rec.span(kind, None, -1L) {
          val got = Serve.run(spark, a, q)
          check(s"query $q")(got == expected)
          got.size.toLong
        }
      }
      kind -> rec.spans.drop(before).toSeq
    }

    val spansFile = o.work.resolve("spans.json")
    Files.writeString(spansFile, rec.spans.map { s =>
      s"""{"name": "${s.name}", "parent": ${s.parent.map(p => s""""$p"""").getOrElse("null")}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${s.counts.jobs}, """ +
        s""""shuffle_bytes": ${s.counts.shuffleBytes}, "busy_ns": ${s.counts.busyNs}, """ +
        s""""scan_nodes": ${s.counts.scanNodes}, "plan_bytes": ${s.counts.planBytes}, """ +
        s""""files_read": ${s.counts.filesRead}, "rows_in": ${s.rowsIn}, "rows_out": ${s.rowsOut}}"""
    }.mkString("[\n", ",\n", "\n]\n"))

    val whole = rec.spans.find(_.name == "Ingester.stages").get
    val layerSpans = rec.spans.filter(_.parent.contains("layers")).toSeq
    val layerSum = layerSpans.map(_.wallS).sum
    println(f"traced staged ingest ${whole.wallS}%.3f s; sum of layer spans $layerSum%.3f s; " +
      f"layered pass ${rec.spans.find(_.name == "layers").get.wallS}%.3f s")
    println(s"spans: $spansFile")

    val layerMetrics = layerSpans.flatMap { s =>
      Seq(("wall_s", s.wallS, "s"), ("jobs", s.counts.jobs.toDouble, "count"),
        ("shuffle_bytes", s.counts.shuffleBytes.toDouble, "bytes"),
        ("scan_nodes", s.counts.scanNodes.toDouble, "count"),
        ("rows_in", s.rowsIn.toDouble, "rows"), ("rows_out", s.rowsOut.toDouble, "rows"))
        .map { case (m, v, u) => (s"${s.name}.$m", v, u) }
    }
    val wholeMetrics = Seq(
      ("Ingester.stages.wall_s", whole.wallS, "s"),
      ("Ingester.stages.jobs", whole.counts.jobs.toDouble, "count"),
      ("Ingester.stages.scan_nodes", whole.counts.scanNodes.toDouble, "count"),
      ("Ingester.stages.plan_mb", whole.counts.planBytes / 1e6, "MB"),
      ("Ingester.stages.shuffle_bytes", whole.counts.shuffleBytes.toDouble, "bytes"),
      ("Ingester.stages.busy_s", whole.counts.busyNs / 1e9, "s"),
      ("Ingester.stages.cache_peak_mb", cachePeakA / 1e6, "MB"),
      ("layers.sum_wall_s", layerSum, "s"))
    val serveMetrics = serveSpans.flatMap { case (kind, ss) =>
      Seq((s"$kind.p50_ms", median(ss.map(_.wallS * 1e3)), "ms"),
        (s"$kind.jobs", ss.map(_.counts.jobs).sum.toDouble / ss.size, "count"),
        (s"$kind.files_read", ss.map(_.counts.filesRead).sum.toDouble / ss.size, "count"))
    }
    wholeMetrics ++ layerMetrics ++ serveMetrics
  }
}
