package graft

import org.apache.spark.sql.functions._

import graft.operators.Motifs

/**
 * Motifs.find vs a nested-loop sequential reference on random directed
 * graphs: chains, triangles, reciprocal pairs, self-loops, negated
 * closures, existential negation ("no out-edge at all"), plus the
 * pattern-compiler's refusal cases (cross products, unbound negation
 * vars, edge bindings).
 */
class MotifsSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic random-ish digraph, self-loops included.
  private def graph(seed: Int, n: Int = 11): Seq[(Long, Long)] =
    (for { a <- 0 until n; b <- 0 until n }
      yield (a.toLong, b.toLong))
      .filter { case (a, b) => (a * 31 + b * 17 + seed * 7) % 10 < 3 }

  private def df(es: Seq[(Long, Long)]) = es.toDF("src", "dst")

  for (seed <- Seq(1, 2)) {
    test(s"3-chain, triangle, reciprocal == nested-loop reference, seed $seed") {
      val es = graph(seed)
      val set = es.toSet
      val chain = Motifs.find(df(es), "(a)-[]->(b); (b)-[]->(c)")
        .as[(Long, Long, Long)].collect().toSet
      val refChain = (for { (a, b) <- es; (b2, c) <- es if b2 == b }
        yield (a, b, c)).toSet
      assert(chain === refChain)

      val tri = Motifs.find(df(es), "(a)-[]->(b); (b)-[]->(c); (c)-[]->(a)")
        .as[(Long, Long, Long)].collect().toSet
      assert(tri === refChain.filter { case (a, _, c) => set((c, a)) }
        .map { case (a, b, c) => (a, b, c) })

      val recip = Motifs.find(df(es), "(a)-[]->(b); (b)-[]->(a)")
        .as[(Long, Long)].collect().toSet
      assert(recip === es.filter { case (a, b) => set((b, a)) }.toSet)
    }

    test(s"negated closure and existential negation == reference, seed $seed") {
      val es = graph(seed)
      val set = es.toSet
      val open = Motifs.find(df(es), "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .as[(Long, Long, Long)].collect().toSet
      val refOpen = (for { (a, b) <- es; (b2, c) <- es if b2 == b }
        yield (a, b, c)).filter { case (a, _, c) => !set((a, c)) }.toSet
      assert(open === refOpen)

      // edges into sinks: dst has no out-edge at all
      val toSink = Motifs.find(df(es), "(a)-[]->(b); !(b)-[]->()")
        .as[(Long, Long)].collect().toSet
      val outs = es.map(_._1).toSet
      assert(toSink === es.filter { case (_, b) => !outs(b) }.toSet)
    }
  }

  test("self-loop variable and anonymous multiplicity") {
    val es = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L))
    val loops = Motifs.find(df(es), "(a)-[]->(a)")
      .as[Long].collect().toSeq
    assert(loops == Seq(1L))
    // (a)-[]->(): one row per out-edge (anonymous multiplicity kept)
    val fanout = Motifs.find(df(es), "(a)-[]->()")
      .as[Long].collect().toSeq.sorted
    assert(fanout == Seq(1L, 1L, 2L, 2L))
  }

  test("edge variables bind the full edge row as a struct") {
    val es = Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 30L), (1L, 3L, 99L))
      .toDF("src", "dst", "w")
    // chain with both edges bound: weights ride along without a re-join
    val got = Motifs.find(es, "(a)-[e1]->(b); (b)-[e2]->(c)")
      .select(col("a"), col("b"), col("c"),
        col("e1.w").as("w1"), col("e2.w").as("w2"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val ref = Set(
      (1L, 2L, 3L, 10L, 20L), (2L, 3L, 4L, 20L, 30L),
      (1L, 3L, 4L, 99L, 30L))
    assert(got === ref)
    // struct carries ALL edge columns, src/dst included
    val one = Motifs.find(es, "(a)-[e]->(b)")
      .select(col("e.src"), col("e.dst"), col("e.w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(one === es.as[(Long, Long, Long)].collect().toSet)
    // self-loop with an edge binding
    val loops = Motifs.find(
      df(Seq((5L, 5L), (5L, 6L))).withColumn("tag", col("src") * 2),
      "(a)-[e]->(a)").select(col("a"), col("e.tag"))
      .as[(Long, Long)].collect().toSeq
    assert(loops == Seq((5L, 10L)))
  }

  test("compiler refusals: cross product, unbound/edge-bound negation, junk") {
    val es = df(Seq((1L, 2L)))
    val cross = intercept[IllegalArgumentException] {
      Motifs.find(es, "(a)-[]->(b); (c)-[]->(d)")
    }
    assert(cross.getMessage.contains("cross product"))
    val unbound = intercept[IllegalArgumentException] {
      Motifs.find(es, "(a)-[]->(b); !(a)-[]->(z)")
    }
    assert(unbound.getMessage.contains("unbound"))
    val negEv = intercept[IllegalArgumentException] {
      Motifs.find(es, "(a)-[]->(b); !(a)-[e]->(b)")
    }
    assert(negEv.getMessage.contains("negated term"))
    val dupEv = intercept[IllegalArgumentException] {
      Motifs.find(es, "(a)-[e]->(b); (b)-[e]->(c)")
    }
    assert(dupEv.getMessage.contains("duplicate edge variable"))
    val clashEv = intercept[IllegalArgumentException] {
      Motifs.find(es, "(a)-[b]->(b)")
    }
    assert(clashEv.getMessage.contains("both node and edge"))
    val junk = intercept[IllegalArgumentException] {
      Motifs.find(es, "(a)->(b)")
    }
    assert(junk.getMessage.contains("bad motif term"))
    val reserved = intercept[IllegalArgumentException] {
      Motifs.find(es, "(__anon1)-[]->(b)")
    }
    assert(reserved.getMessage.contains("reserved"))
  }

  test("motif compiles to joins only — no cartesian in the plan") {
    val es = df(graph(3))
    val plan = executedPlanString(
      Motifs.find(es, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
