package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place an in-repo `SparkSession` is built. Every main (Bench,
 * Verify, RunIngester, tools.PlanDump) and the test suite's shared
 * session get the same settings; only the core count differs:
 *
 *  - [[graft.plans.GraftExtensions]]: the custom SQL functions and the
 *    bounded-levenshtein optimizer rule, so tests run the production
 *    optimizer;
 *  - shuffle partitions = cores, AQE on, UTC session time zone, UI off;
 *  - `spark.sql.maxPlanStringLength` capped at 64 KB: on Spark 4, actions
 *    over deep cached adaptive plans otherwise spend seconds of driver
 *    time rendering plan-update strings that only feed UI/debug events
 *    (see PipelineQueries.corefPipeline). Code that matches on a plan
 *    string must lift the cap while rendering it;
 *  - a fixed warehouse dir and WARN logging.
 *
 * Checkpoint pinning (`graft.pin.checkpoint`) is a separate, per-main
 * choice and is not set here.
 */
object Sessions {

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A local-mode session on `cores` threads (or the JVM's existing one). */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
