package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage profiler for the q126/q132 prefix set-similarity family
  * (diagnostic main, not part of the driver contract): replays
  * SetJoin.prefixJaccardJoin stage by stage at SPARK_GRAFT_SF_DIR and
  * times each frontier through the noop sink, so the expensive stage is
  * measured instead of guessed (guide §1). */
object ProfileSetJoin {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val (num, den) = (1, 2)
    val docs = graft.Tables.documents(spark, sfDir)
    val tk = time("shingles+distinct cp")(
      graft.operators.SetJoin.shingles(docs, "doc_id", "text", 3)
        .localCheckpoint(true))
    println(s"[profile] tk rows = ${tk.count()}")
    val sz = tk.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val dfreq = tk.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val ranked = tk.join(dfreq, Seq("s"))
      .withColumn("pos", row_number().over(byRarity))
      .join(sz, Seq("id"))
    val prefix = ranked.filter(
      col("pos") <= col("sz") -
        expr(s"(CAST($num AS BIGINT) * sz + ${den - 1}) div $den") + 1)
      .select(col("id"), col("s"), col("sz"))
    val prefixCp = time("rank+prefix cp")(prefix.localCheckpoint(true))
    println(s"[profile] prefix rows = ${prefixCp.count()}")
    val cand = prefixCp.as("x").join(prefixCp.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id") &&
          lit(num) * col("x.sz") <= lit(den) * col("y.sz") &&
          lit(num) * col("y.sz") <= lit(den) * col("x.sz"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
    val candRaw = time("cand join (pre-distinct) cp")(
      cand.localCheckpoint(true))
    println(s"[profile] cand raw rows = ${candRaw.count()}")
    val candD = time("cand distinct cp")(candRaw.distinct().localCheckpoint(true))
    println(s"[profile] cand distinct rows = ${candD.count()}")
    val inter = candD
      .join(tk.select(col("id").as("a"), col("s")), Seq("a"))
      .join(tk.select(col("id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    // Deliberately the OLD join-back verify shape, kept for comparison:
    // the end-to-end stage below times the shipped array-intersect verify.
    time("verify joins + agg")(noop(inter))
    time("full operator end-to-end")(noop(
      graft.operators.SetJoin.prefixJaccardJoin(docs, "doc_id", "text",
        3, num, den)))
    spark.stop()
  }
}
