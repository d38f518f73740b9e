package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("chunk: chunks reassemble to the original text, offsets and sizes hold") {
    val docs = Seq(
      (1L, "a" * 1234),
      (2L, "short"),
      (3L, ""), // empty -> no chunks
      (4L, "x" * 500)) // exact boundary -> one chunk
      .toDF("doc_id", "text")
    val out = Curation.chunk(docs, "doc_id", "text", size = 500)
      .select("id", "chunk_idx", "chunk_start", "chunk", "n_chunk_chars")
      .as[(Long, Int, Int, String, Int)].collect()

    assert(!out.exists(_._1 == 3L), "empty doc emits no chunks")
    assert(out.count(_._1 == 4L) == 1, "exact multiple of size -> exactly one chunk")
    assert(out.forall(c => c._5 == c._4.length && c._5 <= 500))
    assert(out.forall(c => c._3 == c._2 * 500 + 1), "1-based offsets")
    val rebuilt = out.filter(_._1 == 1L).sortBy(_._2).map(_._4).mkString
    assert(rebuilt == "a" * 1234, "concatenated chunks == original text")
  }

  test("packSequences: per-shard monotone packs, offsets within budget") {
    val docs = (0L until 100L).map(i => (i, ("tok " * (i.toInt % 37 + 1)).trim))
      .toDF("doc_id", "text")
    val out = Curation.packSequences(docs, "doc_id", "text",
      budget = 64, nShards = 4)
      .select("id", "shard", "n_tokens", "pack_id", "pack_offset")
      .as[(Long, Int, Int, Long, Long)].collect()

    assert(out.length == 100)
    assert(out.forall(r => r._2 == (r._1 % 4).toInt), "shard = id mod nShards")
    assert(out.forall(r => r._5 >= 0 && r._5 < 64), "offset inside the budget")
    // Within a shard, packing follows id order: replay the running sum
    // sequentially and compare bin assignment.
    out.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { r =>
        assert(r._4 == cum / 64, s"doc ${r._1}: pack ${r._4} != ${cum / 64}")
        assert(r._5 == cum % 64)
        cum += r._3
      }
    }
  }

  test("contentSplit: deterministic, content-keyed, ratio tracks the hex bound") {
    val docs = (0 until 400).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
      .union(Seq((9990L, "document number 7 body"),
        (9991L, "document number 7 body")).toDF("doc_id", "text"))
    val out = Curation.contentSplit(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap

    // Identical text -> identical split, regardless of id (leakage-safe).
    assert(out(9990L) == out(9991L) && out(9990L) == out(7L))
    // Re-running gives the same assignment (pure function of content).
    val again = Curation.contentSplit(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(again == out)
    // Ratio is near 13/16 (md5 first hex digit uniform over 400 docs).
    val trainFrac = out.values.count(_ == "train").toDouble / out.size
    assert(trainFrac > 0.70 && trainFrac < 0.92, s"trainFrac=$trainFrac")
  }

  test("decontaminate: planted 4-gram overlap flagged, clean docs pass") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x y alpha beta gamma delta z"),      // shares "alpha beta gamma delta"
      (2L, "beta gamma delta epsilon tail"),     // shares "beta gamma delta epsilon"
      (3L, "completely unrelated words here ok"),// clean
      (4L, "alpha beta gamma unrelated")         // only a 3-gram overlap -> clean
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 4)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, 1)) && out(2L) == ((1L, 1)))
    assert(out(3L) == ((0L, 0)) && out(4L) == ((0L, 0)))
    assert(out.size == 4) // every train doc gets a row, flagged or not
  }

  test("stratifiedSample: deterministic, per-stratum rates, keep-all stratum") {
    val docs = (0 until 900).map(i =>
      (i.toLong, s"stratum ${i % 3}", s"document body number $i")).toDF(
      "doc_id", "lang", "text")
    val rates = Map("stratum 0" -> 0.5, "stratum 1" -> 0.0)
    val out = Curation.stratifiedSample(docs, "doc_id", "lang", "text", rates)
      .as[(Long, String)].collect()
    val byStratum = out.groupBy(_._2).view.mapValues(_.length).toMap
    // rate 0.0 drops everything; default 1.0 keeps everything.
    assert(!byStratum.contains("stratum 1"))
    assert(byStratum("stratum 2") == 300)
    // rate 0.5 keeps about half (md5 uniform over 300 docs).
    assert(byStratum("stratum 0") > 100 && byStratum("stratum 0") < 200,
      s"kept=${byStratum("stratum 0")}")
    // Re-run gives the identical sample (pure function of content).
    val again = Curation.stratifiedSample(docs, "doc_id", "lang", "text", rates)
      .as[(Long, String)].collect()
    assert(again.sorted.sameElements(out.sorted))
    // Content-keyed: byte-identical texts in the same stratum decide together.
    val dup = Seq((1L, "s", "same text"), (2L, "s", "same text"))
      .toDF("doc_id", "lang", "text")
    val kept = Curation.stratifiedSample(dup, "doc_id", "lang", "text",
      Map("s" -> 0.5)).as[(Long, String)].collect().map(_._1).toSet
    assert(kept.isEmpty || kept == Set(1L, 2L))
  }

  test("curate: end-to-end pipeline drops dups, junk, contamination; stamps split+pack") {
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val goodA = "one two three four five six seven eight nine ten eleven twelve"
    val nearA = "one two three four five six seven eight nine ten eleven thirteen"
    val docs = Seq(
      (1L, "en", goodA),
      (2L, "en", goodA),                                  // exact dup of 1
      (3L, "en", nearA),                                  // near dup of 1
      (4L, "en", "too short to keep"),                    // < minTokens
      (5L, "en", "spam spam spam spam spam spam spam spam spam spam spam spam"), // repetitious
      (6L, "en", s"prefix $benchText suffix pad pad2 pad3"), // contaminated
      (7L, "de", "ganz anderes dokument mit vielen verschiedenen deutschen " +
        "woertern darin enthalten heute")
    ).toDF("doc_id", "lang", "text")
    val bench = Seq((100L, "de", benchText)).toDF("doc_id", "lang", "text")
    val cfg = Curation.CurationConfig(minhashThreshold = 0.5,
      benchmark = Some(bench))
    val out = Curation.curate(docs, "doc_id", "text", "lang", cfg)
    val rows = out.collect()
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids == Set(1L, 7L), s"survivors: $ids")
    // Survivors carry the full curation schema.
    assert(out.columns.toSet == Set("id", "text", "stratum", "n_tokens",
      "split", "shard", "pack_id", "pack_offset"))
    val splits = rows.map(r => r.getLong(0) ->
      r.getString(out.columns.indexOf("split"))).toMap
    assert(splits.values.forall(s => s == "train" || s == "val"))
    // Deterministic end to end.
    val again = Curation.curate(docs, "doc_id", "text", "lang", cfg)
    assert(again.collect().map(_.toString).sorted
      .sameElements(rows.map(_.toString).sorted))
  }

  test("curate clusterDedup: one survivor per transitive chain vs pairwise keep-first") {
    // 1 ~ 3 and 2 ~ 3 (shared halves), 1 !~ 2: the pairwise policy drops
    // only 3 (the id_b of both pairs) and keeps BOTH 1 and 2; the
    // transitive-cluster policy keeps exactly min id 1.
    val a = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 10).map(i => s"beta$i").mkString(" ")
    val mixed = ((1 to 8).map(i => s"alpha$i") ++ (1 to 8).map(i => s"beta$i")).mkString(" ")
    val docs = Seq((1L, "en", a), (2L, "en", b), (3L, "en", mixed),
      (9L, "en", "completely unrelated filler words one two three four five six"))
      .toDF("doc_id", "lang", "text")
    // 16 bands x 2 rows: candidate probability ~0.97 at j~0.44 (8x4 would
    // be ~0.27 — the chain pairs must actually surface as candidates).
    val cfg = Curation.CurationConfig(shingleN = 1, minhashBands = 16,
      minhashThreshold = 0.4, minTokens = 5, nShards = 8)
    val pairwise = Curation.curate(docs, "doc_id", "text", "lang", cfg)
      .select("id").as[Long].collect().toSet
    assert(pairwise == Set(1L, 2L, 9L), s"pairwise keeps the chain ends: $pairwise")
    val clustered = Curation.curate(docs, "doc_id", "text", "lang",
      cfg.copy(clusterDedup = true))
      .select("id").as[Long].collect().toSet
    assert(clustered == Set(1L, 9L), s"cluster policy keeps one per chain: $clustered")
  }

  test("packSequences nShards=0 derives a size-scaled count, equals explicit") {
    val docs = (0L until 60L).map(i => (i, ("tok " * (i.toInt % 13 + 1)).trim))
      .toDF("doc_id", "text")
    val derived = Curation.deriveShards(docs, 0)
    assert(derived >= 8, "auto shard count is floored at 8")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "shard", "n_tokens", "pack_id", "pack_offset")
        .as[(Long, Int, Int, Long, Long)].collect().toSet
    val auto = canon(Curation.packSequences(docs, "doc_id", "text", budget = 64))
    val explicit = canon(Curation.packSequences(docs, "doc_id", "text",
      budget = 64, nShards = derived))
    assert(auto == explicit, "auto derivation == explicit deriveShards count")
    assert(auto.forall(r => r._2 == (r._1 % derived).toInt))
  }

  test("packSequences auto-shard derivation plans without running any job") {
    // ADVICE r3: under AQE, df.rdd.getNumPartitions on an exchange-bearing
    // plan MATERIALIZES the upstream query stages — the old derivation
    // silently pre-ran the whole pipeline once for non-scan inputs. The
    // accumulator-bearing UDF observes any such execution: if deriving the
    // shard count ran the aggregate below, tasks would have incremented it
    // by the time packSequences returns (accumulators update on job
    // completion, which any materialization must reach).
    val hits = spark.sparkContext.longAccumulator("derive-probe")
    val tap = udf((s: String) => { hits.add(1); s })
    // A parquet-backed input, not a LocalRelation: ConvertToLocalRelation
    // would evaluate the tap UDF driver-side at OPTIMIZATION time and
    // pollute the job-execution signal this spec isolates.
    val dir = java.nio.file.Files.createTempDirectory("derive-probe").toString
    (0L until 40L).map(i => (i, s"body ${i % 5} words here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val withExchange = spark.read.parquet(dir)
      .withColumn("text", tap(col("text")))
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    val planned = Curation.packSequences(withExchange, "doc_id", "text",
      budget = 64) // nShards = 0: derivation happens during construction
    assert(hits.value == 0L,
      s"shard derivation executed upstream stages (${hits.value} rows ran)")
    // The plan still works when actually executed.
    assert(planned.count() > 0)
    assert(hits.value > 0L, "sanity: the tap UDF does run on real execution")
  }

  test("selectByTokenBudget: greedy-by-score selection with boundary ties and edges") {
    // Scores spread across bins; ids 4/5 tie at 0.5 — the (score desc, id)
    // order must break the tie toward the smaller id at the boundary.
    val scored = Seq(
      (1L, 0.9, 100L), // cum_before   0
      (2L, 0.8, 200L), // cum_before 100
      (3L, 0.6, 300L), // cum_before 300
      (4L, 0.5, 250L), // cum_before 600
      (5L, 0.5, 250L), // cum_before 850 — starts inside budget 900, kept
      (6L, 0.2, 400L)  // cum_before 1100 — out
    ).toDF("id", "score", "n_tokens")
    def sel(budget: Long) = Curation.selectByTokenBudget(scored, budget)
      .select("id").as[Long].collect().toSet
    assert(sel(900L) == Set(1L, 2L, 3L, 4L, 5L), s"greedy fill: ${sel(900L)}")
    assert(sel(850L) == Set(1L, 2L, 3L, 4L), "doc starting AT the budget is out")
    assert(sel(601L) == Set(1L, 2L, 3L, 4L), "doc STARTING inside is kept whole")
    assert(sel(10000L) == Set(1L, 2L, 3L, 4L, 5L, 6L), "budget beyond total keeps all")
    assert(sel(0L).isEmpty && sel(-5L).isEmpty, "non-positive budget selects nothing")
    assert(sel(50L) == Set(1L), "tiny budget keeps only the best doc (whole)")
    // Out-of-[0,1] scores clamp into the edge bins (an unclamped
    // floor(score*bins) int cast would overflow under ANSI mode).
    val wild = Seq((1L, 3.0e6, 10L), (2L, -4.5, 20L), (3L, 0.5, 30L))
      .toDF("id", "score", "n_tokens")
    // Greedy order 1 (bin 1023), 3 (bin 512), 2 (bin 0): doc 3 STARTS at
    // cum 10 < 15 so it is kept whole; doc 2 starts at 40, out.
    val got = Curation.selectByTokenBudget(wild, 15L)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"clamped-edge greedy selection: $got")
    spark.catalog.clearCache()
  }

  test("selectByTokenBudget: all-equal scores never pay a global-order window") {
    // VERDICT r4 #4: every doc sharing one score lands in ONE histogram
    // bin, so selection order degenerates to id asc. The boundary bucket
    // must be range-split on (score desc, id) and prefix-stitched — no
    // Window anywhere in the plan may run without a partitionBy.
    val n = 4000
    val scored = spark.range(n).selectExpr("id",
      "CAST(0.5 AS DOUBLE) AS score", "CAST(10 AS BIGINT) AS n_tokens")
    val out = Curation.selectByTokenBudget(scored, 10L * (n / 2), bins = 8)
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "sanity: boundary selection uses a running-sum window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "boundary running-sum window must be partitioned (no global orderBy)")
    val got = out.select("id").as[Long].collect().toSet
    assert(got == (0L until (n / 2).toLong).toSet,
      s"budget must keep exactly the ${n / 2} smallest ids (got ${got.size})")
    spark.catalog.clearCache()
  }

  test("selectByTokenBudget: NULL score/n_tokens rows are dropped, not crashed on") {
    // ADVICE r4: a NULL in either contract column used to reach the
    // driver histogram's r.getInt/getLong unbox as a NULL bin group and
    // die with an opaque NPE mid-collect.
    val rows = Seq(
      (1L, Option(0.9), Option(100L)),
      (2L, Option(0.8), Option(100L)),
      (3L, None: Option[Double], Option(100L)),
      (4L, Option(0.7), None: Option[Long]))
      .toDF("id", "score", "n_tokens")
    val got = Curation.selectByTokenBudget(rows, 150L)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L),
      s"NULL-contract rows must be excluded from selection: $got")
    spark.catalog.clearCache()
  }

  test("curate: temperature/budget/salt config knobs compose the standalone operators") {
    import graft.operators.Dedup
    // Distinct texts so exact/near dedup keep everything: the mixture and
    // budget stages are then exactly the standalone operators over the
    // kept frame.
    val docs = ((0 until 12).map(i =>
      (i.toLong, s"alpha body with plenty of distinct words ${i} x${i * 7} y${i * 13}", "A")) ++
      (12 until 15).map(i =>
        (i.toLong, s"beta body with plenty of distinct words ${i} x${i * 7} y${i * 13}", "B")))
      .toDF("doc_id", "text", "lang")
    val cfg0 = Curation.CurationConfig(minTokens = 2, minhashThreshold = 0.99,
      nShards = 4)
    val full = Curation.curate(docs, "doc_id", "text", "lang", cfg0)
    val fullRows = full.select("id", "text", "stratum").persist()
    assert(fullRows.count() == 15, "fixture survives dedup/quality intact")

    // temperature knob == standalone temperatureSample over the kept frame
    val tempIds = Curation.curate(docs, "doc_id", "text", "lang",
      cfg0.copy(temperature = Some((0.5, 0.6))))
      .select("id").as[Long].collect().toSet
    val wantTemp = Curation.temperatureSample(fullRows, "id", "text",
      "stratum", alpha = 0.5, targetFrac = 0.6)
      .select("id").as[Long].collect().toSet
    assert(tempIds == wantTemp, s"curate temperature stage: $tempIds != $wantTemp")

    // budget knob == standalone selectByTokenBudget over the same scoring
    val budIds = Curation.curate(docs, "doc_id", "text", "lang",
      cfg0.copy(tokenBudget = Some(60L)))
      .select("id").as[Long].collect().toSet
    val toks = fullRows.select(col("id"),
      explode(split(col("text"), "\\s+")).as("tok")).filter(col("tok") =!= "")
    val scored = toks.groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("bn"), count(lit(1)).as("nd"))
      .select(col("id"),
        round(col("nd").cast("double") / col("bn"), 6).as("score"),
        col("bn").as("n_tokens"))
    val wantBud = Curation.selectByTokenBudget(scored, 60L)
      .select("id").as[Long].collect().toSet
    assert(budIds == wantBud, s"curate budget stage: $budIds != $wantBud")
    assert(budIds.nonEmpty && budIds.size < 15, "budget actually constrains")

    // salt knob reaches the near-dup stage: on a planted mega-bucket at a
    // tiny cap, Drop keeps every copy (buckets dropped -> no pairs) while
    // Salt still finds in-sub-bucket pairs and removes them.
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val mega = (0L until 40L).map(i => (i, s"$base extra$i", "A"))
      .toDF("doc_id", "text", "lang")
    val cfgM = Curation.CurationConfig(minTokens = 2, minhashThreshold = 0.7,
      minhashMaxBucket = 5)
    def survivors(ov: Dedup.Overflow) =
      Curation.curate(mega, "doc_id", "text", "lang",
        cfgM.copy(minhashOverflow = ov)).count()
    val keptDrop = survivors(Dedup.Overflow.Drop)
    val keptSalt = survivors(Dedup.Overflow.Salt)
    assert(keptDrop == 40L,
      s"cap 5 + Drop drops every mega-bucket: no pairs, all kept ($keptDrop)")
    assert(keptSalt < keptDrop,
      s"salted near-dup stage removes mega-bucket members ($keptSalt)")
    fullRows.unpersist()
    spark.catalog.clearCache()
  }

  test("temperatureSample: flattened rates match hand computation; draw is deterministic") {
    // Strata A: 8 docs, B: 2 docs; alpha = 0.5, targetFrac = 0.5.
    // denom = sqrt(8) + sqrt(2); rate_s = 0.5 * 10 * n_s^-0.5 / denom:
    //   rate_A = 5 / (sqrt(8) * denom) = 0.416667
    //   rate_B = 5 / (sqrt(2) * denom) = 0.833333  — rare stratum upsampled
    val docs = ((0 until 8).map(i => (i.toLong, s"alpha doc number $i", "A")) ++
      (8 until 10).map(i => (i.toLong, s"beta doc number $i", "B")))
      .toDF("doc_id", "text", "lang")
    val out = Curation.temperatureSample(docs, "doc_id", "text", "lang",
      alpha = 0.5, targetFrac = 0.5)
    val rates = out.select("stratum", "rate").distinct()
      .as[(String, Double)].collect().toMap
    val denom = math.sqrt(8) + math.sqrt(2)
    def expect(n: Int) =
      math.round(0.5 * 10 * math.pow(n, -0.5) / denom * 1e6) / 1e6
    // rates surface only for strata with at least one selected doc
    rates.foreach { case (s, r) =>
      val want = if (s == "A") expect(8) else expect(2)
      assert(r == want, s"stratum $s rate $r != $want")
    }
    assert(expect(2) > expect(8), "alpha < 1 must upsample the rare stratum")
    // deterministic: the same input selects the same ids
    val ids1 = out.select("id").as[Long].collect().sorted.toSeq
    val ids2 = Curation.temperatureSample(docs, "doc_id", "text", "lang",
      alpha = 0.5, targetFrac = 0.5).select("id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // alpha = 1 degenerates to uniform targetFrac for every stratum
    val uni = Curation.temperatureSample(docs, "doc_id", "text", "lang",
      alpha = 1.0, targetFrac = 0.5).select("rate").distinct()
      .as[Double].collect().toSet
    assert(uni.subsetOf(Set(0.5)), s"alpha=1 rates must all be targetFrac: $uni")
    // targetFrac = 1 with alpha = 1 keeps everything
    assert(Curation.temperatureSample(docs, "doc_id", "text", "lang",
      alpha = 1.0, targetFrac = 1.0).count() == 10)
    // strata column literally named "stratum" must not be ambiguous
    val named = docs.withColumnRenamed("lang", "stratum")
    assert(Curation.temperatureSample(named, "doc_id", "text", "stratum",
      alpha = 1.0, targetFrac = 1.0).count() == 10)
    // NULL strata form their own group and are KEPT (null-safe join):
    // alpha=1, targetFrac=1 must keep every doc including NULL-lang ones.
    val withNull = docs.withColumn("lang",
      when(col("doc_id") < 3, lit(null).cast("string")).otherwise(col("lang")))
    val kept = Curation.temperatureSample(withNull, "doc_id", "text", "lang",
      alpha = 1.0, targetFrac = 1.0)
    assert(kept.count() == 10, "NULL-stratum docs must not be dropped")
    assert(kept.filter(col("stratum").isNull).count() == 3)
  }

  test("segmentDedup: AQE broadcasts the small boilerplate set at runtime; hint agrees") {
    val boiler = "all rights reserved click here to subscribe now please"
    val docs = (0L until 20L)
      .map(i => (i, s"document body number $i with several distinct words $boiler"))
      .toDF("doc_id", "text")
    // Constructing the operator must stay a pure plan transform (no job):
    // the runtime-adaptive broadcast is AQE's call, visible only in the
    // FINAL adaptive plan — so materialize the operator's OWN
    // QueryExecution (a derived select would execute its own copy and
    // leave this one's adaptive plan un-finalized).
    val out = Curation.segmentDedup(docs, "doc_id", "text", maxDf = 2, segWords = 8)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_seg_kept"), r.getAs[Long]("n_seg_dropped"))).toSet
    val base = canon(out.collect())
    val finalPlan = executedPlanString(out)
    assert(finalPlan.contains("isFinalPlan=true"),
      s"assertion must read the FINAL adaptive plan:\n$finalPlan")
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"AQE must convert the small df>maxDf flag join to broadcast:\n$finalPlan")
    // The explicit hint (caller KNOWS the corpus is mostly unique)
    // produces identical output.
    assert(base == canon(Curation.segmentDedup(docs, "doc_id", "text",
      maxDf = 2, segWords = 8, broadcastBoiler = true).collect()))
  }

  test("decontaminate plan: benchmark shingle side is broadcast, corpus is not shuffled") {
    val train = (0 until 50).map(i => (i.toLong, s"train doc $i with words")).toDF("doc_id", "text")
    val bench = Seq((1L, "bench doc with words here")).toDF("doc_id", "text")
    val plan = executedPlanString(
      Curation.decontaminate(train, bench, "doc_id", "text", n = 4))
    // The eval-set side must reach the join as a broadcast: at 100 TB the
    // training corpus is never shuffled for this check.
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in plan:\n$plan")
  }

  test("segmentDedup: corpus-frequent segments dropped, rare ones survive in order") {
    val boiler = "all rights reserved click here to subscribe"  // 8 tokens
    val docs = Seq(
      (1L, s"unique opening words for doc one here now $boiler"),
      (2L, s"different second document body with some more words $boiler"),
      (3L, s"third document text goes right here as well $boiler"),
      (4L, "fourth doc has no boilerplate in it at all"),
      (5L, ""),                                 // empty -> kept, empty clean text
      (6L, boiler))                             // pure boilerplate -> emptied
      .toDF("doc_id", "text")
    val out = Curation.segmentDedup(docs, "doc_id", "text",
      maxDf = 2, segWords = 8)
      .select("id", "clean_text", "n_seg_kept", "n_seg_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    assert(out.size == 6, "one row per input doc, empty included")
    // The planted segment appears in 4 docs (> maxDf=2) -> dropped everywhere.
    assert(out(1L) == (("unique opening words for doc one here now", 1L, 1L)))
    assert(out(2L) == (("different second document body with some more words", 1L, 1L)))
    assert(out(3L) == (("third document text goes right here as well", 1L, 1L)))
    assert(out(4L) == (("fourth doc has no boilerplate in it at all", 2L, 0L)),
      "9 tokens -> two segments (8 + 1), both unique, order preserved")
    assert(out(5L) == (("", 0L, 0L)))
    assert(out(6L) == (("", 0L, 1L)), "pure-boilerplate doc is emptied, not lost")
    // Whitespace-insensitive segmentation: extra spaces don't shift windows.
    val spaced = Seq((1L, s"unique opening  words for doc one here now  $boiler"))
      .toDF("doc_id", "text")
      .union(docs.filter($"doc_id" > 1L))
    val out2 = Curation.segmentDedup(spaced, "doc_id", "text",
      maxDf = 2, segWords = 8)
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    assert(out2(1L) == "unique opening words for doc one here now")
  }

  test("segmentDedup: delimiter mode drops repeated lines, rejoins with the delimiter") {
    val docs = Seq(
      (1L, "real content line one\ncookie banner text\nreal content line two"),
      (2L, "another real line\ncookie banner text"),
      (3L, "cookie banner text\nthird doc body"),
      (4L, "only original material"))
      .toDF("doc_id", "text")
    val out = Curation.segmentDedup(docs, "doc_id", "text",
      maxDf = 2, delimiter = Some("\n"))
      .select("id", "clean_text", "n_seg_dropped")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("real content line one\nreal content line two", 1L)))
    assert(out(2L) == (("another real line", 1L)))
    assert(out(3L) == (("third doc body", 1L)))
    assert(out(4L) == (("only original material", 0L)))
  }

  test("ngramRepetition: fixture fractions match hand computation") {
    val docs = Seq(
      (1L, "a b a b a b"),     // bigrams: ab x3, ba x2 -> all dup (5/5);
                               // trigrams: aba x2, bab x2 -> 4/4
      (2L, "one two three four"), // all n-grams distinct -> 0.0
      (3L, "w"),                // too short for any n-gram -> 0.0
      (4L, ""),                 // empty -> 0.0
      (5L, "x y x y z"))        // bigrams: xy x2, yx, yz -> 2/4; trigrams:
                                // xyx, yxy, xyz -> 0/3
      .toDF("doc_id", "text")
    val out = Curation.ngramRepetition(docs, "doc_id", "text")
      .select("id", "dup_bigram_frac", "dup_trigram_frac")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    assert(out.size == 5, "one row per input doc, short/empty included")
    assert(out(1L) == ((1.0, 1.0)))
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0)))
    assert(out(5L) == ((0.5, 0.0)))
  }

  test("dsirWeights: target-vocab docs outrank raw-only vocab, topK and rank hold") {
    // Two disjoint bigram vocabularies: docs 0-4 (the target slice) speak
    // A, docs 10-14 speak B. Every A-bucket is target-heavy (positive
    // LLR), every B-bucket target-free (negative LLR), so each A-doc must
    // outweigh each B-doc. Doc 20 has a single token -> no bigrams ->
    // excluded entirely.
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "omega psi chi phi upsilon tau"
    val docs = ((0L until 5L).map(i => (i, a)) ++
      (10L until 15L).map(i => (i, b)) :+ (20L, "lonely"))
      .toDF("doc_id", "text")
    val out = Curation.dsirWeights(docs, "doc_id", "text",
      isTarget = col("doc_id") < 5, buckets = 64, topK = 8)
      .select("id", "n_bigrams", "weight", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)

    assert(out.length == 8, "topK caps the output")
    assert(out.forall(_._2 == 5L), "6 tokens -> 5 bigram occurrences")
    assert(!out.exists(_._1 == 20L), "single-token doc has no bigrams")
    assert(out.map(_._4).toSeq == (1 to 8), "dense 1-based ranks")
    // All 5 A-docs rank above every B-doc; identical text -> identical
    // weight, ties broken by id asc.
    assert(out.take(5).map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(out.take(5).forall(_._3 > 0), "target-vocab weight is positive")
    assert(out.drop(5).forall(_._3 < 0), "raw-only vocab weight is negative")
    assert(out.take(5).map(_._3).distinct.size == 1)
  }
}
