package graft

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, SortedNeighborhood, SortedSegments}

class SortedSegmentsSpec extends SparkSpec {
  import spark.implicits._

  private def cond(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    levenshtein(a, b) <= 1

  test("segments equal CC-over-adjacent-edges on generated near-dup runs") {
    // Runs of near-duplicate keys ("nameXXa/b/c") interleaved with isolates.
    val keys = (0 until 300).flatMap { i =>
      val base = f"name$i%04d"
      if (i % 3 == 0) Seq(base + "a", base + "b", base + "c") else Seq(base + "x")
    }
    val kdf = scala.util.Random.shuffle(keys).toDF("key")

    val seg = SortedSegments.assign(kdf, cond, numPartitions = 7)
      .as[(String, String)].collect().toMap

    // Oracle: explicit adjacent pairs + iterative connected components.
    val pairs = SortedNeighborhood.adjacentPairs(kdf, numPartitions = 7)
    val edges = pairs.filter(cond(col("prev"), col("curr")))
      .select(col("prev").as("src"), col("curr").as("dst"))
    val cc = ConnectedComponents.run(edges).as[(String, String)].collect().toMap

    keys.foreach { k =>
      val want = cc.getOrElse(k, k) // isolates are their own component
      assert(seg(k) == want, s"key $k: segment ${seg(k)} vs cc $want")
    }
  }

  test("cross-partition chain stitches through whole partitions") {
    // "a", "aa", "aaa", … : every sort-adjacent pair is levenshtein 1, so
    // the whole set is ONE component that must stitch across all 8
    // partitions (some partitions are interior links of the chain).
    val chain = (1 to 40).map("a" * _)
    val out = SortedSegments.assign(chain.toDF("key"), cond, numPartitions = 8)
      .as[(String, String)].collect().toMap
    assert(out.values.toSet == Set("a"), s"got ${out.values.toSet}")
  }

  test("type guard: Levenshtein-1 texts across a type boundary never merge") {
    // LOCATION texts b, bb, …, b×20 and PERSON texts b×21 … b×40: each type
    // is one sort-adjacent chain, and the two chains meet at b×20 | b×21,
    // which are Levenshtein-1 apart. Only the type check keeps them apart.
    val texts = (1 to 40).map("b" * _)
    val typed = texts.map(t => (if (t.length <= 20) "LOCATION" else "PERSON", t))
      .toDF("type", "text")
      .select(SortedSegments.typedKey(col("type"), col("text")).as("key"), col("text"))
    val textOf = typed.as[(String, String)].collect().toMap
    val guarded = SortedSegments.sameType(cond)
    val boundaryHits = (2 to 8).count { n =>
      val out = SortedSegments.assign(typed, guarded, numPartitions = n)
        .as[(String, String)].collect()
        .map { case (k, comp) => textOf(k) -> textOf(comp) }.toMap
      texts.foreach { t =>
        val want = if (t.length <= 20) "b" else "b" * 21
        assert(out(t) == want, s"n=$n: ${t.length}×b labelled ${out(t).length}×b")
      }
      // Untyped, the same texts are one chain: the guard did the work.
      assert(SortedSegments.assign(texts.toDF("key"), cond, numPartitions = n)
        .select("comp").distinct().count() == 1)
      // Did the type boundary fall on a partition boundary? Same range
      // partitioning as assign: the two boundary keys land in different pids.
      val pid = typed.select(col("key").cast("string").as("k"))
        .repartitionByRange(n, col("k"))
        .select(col("k"), spark_partition_id())
        .as[(String, Int)].collect()
        .map { case (k, p) => textOf(k) -> p }.toMap
      pid("b" * 20) != pid("b" * 21)
    }
    assert(boundaryHits > 0, "no partition count put the type boundary on a partition edge")
  }
}
