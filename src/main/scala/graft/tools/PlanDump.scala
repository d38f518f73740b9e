package graft.tools

/**
 * Regenerate docs/PLANS.md: one `## <query>` section with the physical
 * plan of EVERY `SparkEntry.queries` entry at the given SF dir. Run
 * after any plan-affecting change:
 *
 *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 docs/PLANS.md"
 *
 * The dump is the evidence base the plan audits cite (and DocsAuditSpec
 * asserts completeness against the declared battery, so a round that
 * adds queries without regenerating this file fails `sbt test`).
 * Building a frame triggers planning only — the final result is never
 * materialized — but operators with eager internals (iterative
 * localCheckpoint rounds, driver-side boundary stitches) do run them;
 * the whole dump costs on the order of a Verify sweep.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("docs/PLANS.md")
    val nameFilter = args.lift(2).map(_.r)
    val spark = graft.Sessions.local(graft.Sessions.envCores)

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence, every declared query " +
      s"(${java.nio.file.Paths.get(sfDir).getFileName})\n\n")
    sb.append("Generated by `graft.tools.PlanDump` — regenerate after " +
      "plan-affecting changes;\nDocsAuditSpec fails `sbt test` if a " +
      "declared query has no section here.\n")
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      if (nameFilter.forall(_.findFirstIn(name).isDefined)) {
        val (_, caches) = graft.operators.CacheScope.tracking {
          val plan =
            try fn(spark, sfDir).queryExecution.executedPlan.toString
            catch { case e: Throwable =>
              s"(plan unavailable: ${e.getClass.getSimpleName}: ${e.getMessage})"
            }
          sb.append(s"\n## $name\n\n```\n== Physical Plan ==\n")
          sb.append(plan.trim)
          sb.append("\n```\n")
        }
        caches.release()
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
