package graft

import org.apache.spark.sql.functions._

import graft.operators.ScaleOps

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no shuffle exchange") {
    // fresh session + stale warehouse dir → LOCATION_ALREADY_EXISTS
    Seq("bkt_left", "bkt_right").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    val left = (0 until 1000).map(i => (i.toLong % 100, s"l$i")).toDF("k", "lv")
    val right = (0 until 500).map(i => (i.toLong % 100, s"r$i")).toDF("k", "rv")
    ScaleOps.writeBucketed(left, "bkt_left", "k", 8)
    ScaleOps.writeBucketed(right, "bkt_right", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(!withFullPlanStrings(ScaleOps.hasShuffle(joined)),
        "bucketed-bucketed equi-join must not exchange")
      assert(joined.count() == 5000)
      // sanity: the same join over raw (unbucketed) frames DOES shuffle
      assert(withFullPlanStrings(ScaleOps.hasShuffle(left.join(right, "k"))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join equals plain join under skew") {
    // 90% of the large side hits one hot key.
    val large = (0 until 20000).map(i =>
      (if (i % 10 == 0) i.toLong % 50 else 7L, i)).toDF("k", "v")
    val small = (0 until 50).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
      .as[(Long, Int, String)].collect().sorted
    val salted = ScaleOps.saltedJoin(large, small, "k", saltFactor = 8)
      .select("k", "v", "name").as[(Long, Int, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("compact rewrites a many-small-file dir to the byte-targeted count") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    val df = (1 to 20000).map(i => (i.toLong, s"row-padding-$i"))
      .toDF("id", "s")
    df.repartition(40).write.parquet(s"$tmp/in")
    def files(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(s"$tmp/in") === 40)
    val total = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(s"$tmp/in"))
      .getLength
    val n = ScaleOps.compact(spark, s"$tmp/in", s"$tmp/out", total / 3)
    assert(n >= 3 && n <= 4)
    assert(files(s"$tmp/out") === n)
    // Content survives the rewrite.
    assert(spark.read.parquet(s"$tmp/out").count() === 20000L)
  }

  test("globalRowNumbers == window row_number, without the global sort") {
    val r = new scala.util.Random(77)
    val rows = r.shuffle((1 to 5000).toList).map(i => (i.toLong, i % 7))
    val df = rows.toDF("id", "grp")
    val got = ScaleOps.globalRowNumbers(df, Seq("id"), numPartitions = 8)
    // Numbers are exactly the rank in id-order.
    val check = got.select("id", "row_num")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(check.size === 5000)
    (1 to 5000).foreach(i => assert(check(i.toLong) === i.toLong))
    // The operator's plan must NOT collapse to a single partition the
    // way the SQL window does.
    assert(!executedPlanString(got).contains("Exchange SinglePartition"))
    val windowed = df.withColumn("row_num",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"id")))
    assert(executedPlanString(windowed).contains("Exchange SinglePartition"))
    // Sparse/empty range partitions keep offsets dense.
    val tiny = ScaleOps.globalRowNumbers(
      Seq(5L, 1L, 9L).toDF("id"), Seq("id"), numPartitions = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tiny === Map(1L -> 1L, 5L -> 2L, 9L -> 3L))
  }
}
