package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names (iteration aid — the
    // driver always runs the full battery).
    val nameFilter = args.lift(2).map(_.r)
    def keep(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    // Harness pinning mode — see CacheScope.pin (same rationale as Bench).
    System.setProperty("graft.pin.checkpoint", "true")
    val spark = Sessions.local(Sessions.envCores)
    new java.io.File(outDir).mkdirs()
    // Every query that throws is recorded in errors.json (written even when
    // empty) and its partial output dir is removed, so the correctness
    // artifact enumerates the full declared battery — a crashed query can
    // never read as merely absent, let alone green.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        // Per-query cache scope: operator-internal persists are released
        // after each result lands, so the 87-query sweep holds a bounded
        // cache footprint (see Bench for the same discipline).
        val (_, caches) = graft.operators.CacheScope.tracking {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failures(name) =
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
            deleteRecursively(new java.io.File(s"$outDir/$name"))
          }
        }
        caches.release()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val ejson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), ejson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
