package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/**
 * Entity-resolution (coreference) passes of the reference pipeline,
 * re-expressed as pure DataFrame → DataFrame transforms:
 *
 *  - exact-match clustering       — /root/reference/src/CorefBase.groovy:135-155
 *  - global-id clustering         — CorefBase.groovy:157-170
 *  - sorted-neighborhood fuzzy    — CorefBase.groovy:176-212 (Levenshtein ≤ 1)
 *  - digit-run merge guard        — CorefBase.groovy:214-218
 *  - firstname/fullname folding   — CorefBase.groovy:95-133
 *  - survivor pick + stats        — CorefBase.groovy:228-246
 *  - strong/weak candidate split  — AcrossDoc{Per,Org,Loc}Coref.groovy
 *
 * Sequential pairwise merges become merge-edge lists resolved by
 * [[ConnectedComponents]] (transitive superset — SURVEY.md §7.4(1));
 * tie-breaks are pinned as max_by(struct(priority, count, key)) — largest
 * count wins, ties to the lexicographically greater key, matching the
 * reference's absorb-into-current-key behaviour on equal sizes
 * (CorefBase.groovy:203-209).
 *
 * Steps 4-6 (person/org/loc) run as ONE type-keyed pass ([[withinDocAll]],
 * [[acrossDocAll]]): per-type parameters are per-row columns and every
 * window, group and join key carries the type.
 *
 * Entity ids are content-derived (xxhash64 over type/provenance/scope/text,
 * SURVEY.md §7.4(8)) so results are stable across runs and cluster sizes;
 * hashing the type and provenance columns gives the one-type ids exactly.
 */
object Coref {

  sealed trait TypeParams { def entityType: String } // keyed on by [[perType]]

  /** Within-document pass parameterization (per entity type). */
  final case class WithinDocParams(
      entityType: String,
      createdBy: String,
      junkChars: String,
      matchNumbersExactly: Boolean,
      firstnameMerge: Boolean) extends TypeParams

  object WithinDocParams {
    /** WithinDocPerCoref.groovy:36-53: numbers not matched, firstname folding on. */
    val person: WithinDocParams =
      WithinDocParams("PERSON", "within_doc_person_coref", JunkChars,
        matchNumbersExactly = false, firstnameMerge = true)
    /** WithinDocOrgCoref.groovy:46-55: numbers matched, no firstname folding. */
    val organization: WithinDocParams =
      WithinDocParams("ORGANIZATION", "within_doc_organization_coref", JunkChars,
        matchNumbersExactly = true, firstnameMerge = false)
    /** WithinDocLocCoref.groovy:42-54: loc junk-chars variant, firstname folding on. */
    val location: WithinDocParams =
      WithinDocParams("LOCATION", "within_doc_location_coref", JunkCharsForLocs,
        matchNumbersExactly = true, firstnameMerge = true)
    val all: Seq[WithinDocParams] = Seq(person, organization, location)
  }

  /** Across-document pass parameterization (per entity type). */
  final case class AcrossDocParams(
      entityType: String,
      createdBy: String,
      weakCreatedBy: String,
      numTokensMin: Int,
      numTokensMax: Int,
      numCharsMin: Int,
      charsetRegex: Option[String],
      minNumDocs: Int = 2) extends TypeParams

  object AcrossDocParams {
    /** AcrossDocPerCoref.groovy:31-43,49-55: 2..6 tokens, ≥5 chars, letters/dots/space. */
    val person: AcrossDocParams = AcrossDocParams("PERSON",
      "across_doc_person_coref", "weak_across_doc_person_coref",
      2, 6, 5, Some("^[A-Za-z.\\s]+$"))
    /** AcrossDocOrgCoref.groovy:45-48: 1..20 tokens, ≥2 chars, no charset. */
    val organization: AcrossDocParams = AcrossDocParams("ORGANIZATION",
      "across_doc_organization_coref", "weak_across_doc_organization_coref",
      1, 20, 2, None)
    /** AcrossDocLocCoref.groovy:47-50: 1..10 tokens, ≥2 chars, no charset. */
    val location: AcrossDocParams = AcrossDocParams("LOCATION",
      "across_doc_location_coref", "weak_across_doc_location_coref",
      1, 10, 2, None)
    val all: Seq[AcrossDocParams] = Seq(person, organization, location)
  }

  /** Result: `entities` table + `mentionMap`/`entityMap` assignment. */
  final case class CorefResult(entities: DataFrame, assignment: DataFrame)

  /** A per-type parameter as a per-row column: a `when` chain over `ps`
    * keyed on the row's type `tpe` (null for a type not in `ps`). */
  private def perType[P <: TypeParams](tpe: Column, ps: Seq[P])(v: P => Column): Column = {
    require(ps.map(_.entityType).distinct.size == ps.size, "one parameter set per type")
    ps.tail.foldLeft(when(tpe === ps.head.entityType, v(ps.head)))(
      (c, p) => c.when(tpe === p.entityType, v(p)))
  }

  /** Fuzzy-merge predicate: Levenshtein ≤ 1 (`score > -1.1`,
    * WithinDocPerCoref.groovy:36-37) + digit-run guard where `matchNumbers`.
    * The bounded 3-arg levenshtein early-exits past the threshold (O(n·k)
    * band instead of the full DP; returns -1 when distance > 1). */
  private def closeMatch(a: Column, b: Column, matchNumbers: Column): Column =
    levenshtein(a, b, 1) >= 0 && (!matchNumbers || (digit_runs(a) === digit_runs(b)))

  /** Within-document coreference for one entity type. */
  def withinDoc(mentions: DataFrame, p: WithinDocParams): CorefResult =
    withinDocAll(mentions, Seq(p))

  /**
   * Within-document coreference for every type in `ps` in one pass. Each
   * type's parameters become per-row columns ([[perType]]) and every
   * window, group and join key carries `mention_type`, so the same text
   * under two types in one doc stays two clusters.
   *
   * @param mentions columns (doc_id: long, mention_id: long,
   *                 mention_type: string, text: string)
   * @return entities (entity_id, doc_id, entity_type, entity_text,
   *         created_by, num_mentions, num_docs)
   *         + assignment (mention_id, entity_id)
   */
  def withinDocAll(mentions: DataFrame, ps: Seq[WithinDocParams]): CorefResult = {
    val tpe = col("mention_type")
    val param = perType(tpe, ps) _
    // R16: normalize, drop empties. Persisted: reused by the edge windows,
    // the component join and the assignment join — recomputing the
    // normalize+explode lineage 4× dominated the pipeline cost otherwise.
    val normed = CacheScope.pin(mentions
      .filter(tpe.isin(ps.map(_.entityType): _*))
      .withColumn("norm", param(p => normalize_str(col("text"), p.junkChars)))
      .filter(col("norm") =!= ""))

    // R25: exact clusters per (doc, type, normalized text).
    val keys = normed.groupBy(col("doc_id"), tpe, col("norm")).agg(count(lit(1)).as("cnt"))

    // R33 stage 1 — combineAdjacentClose: Levenshtein merge edges connect
    // only keys ADJACENT in the per-doc sorted order, so components are
    // contiguous runs — one window pass with a cumulative segment counter,
    // no iterative connected components. Survivor = larger cluster, ties
    // to the later (greater) key (CorefBase.groovy:203-209).
    val w = Window.partitionBy(col("doc_id"), tpe).orderBy(col("norm"))
    val stage1 = keys
      .withColumn("prev", lag(col("norm"), 1).over(w))
      .withColumn("edge", col("prev").isNotNull &&
        closeMatch(col("prev"), col("norm"), param(p => lit(p.matchNumbersExactly))))
      .withColumn("comp",
        sum(when(col("edge"), 0).otherwise(1))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), tpe, col("norm"), col("cnt"), col("comp"))
      .transform(CacheScope.pin(_))

    val clusters1 = stage1
      .groupBy(col("doc_id"), tpe, col("comp"))
      .agg(
        max_by(col("norm"), struct(col("cnt"), col("norm"))).as("key1"),
        sum(col("cnt")).as("cnt1"))

    // R34 stage 2 — combineFirstnameFullname runs on the POST-MERGE key
    // set (the reference detects prefixes after adjacentClose removed
    // absorbed keys — CorefBase.groovy:95-133): a first-name key folds
    // into the immediately following SURVIVING key when it is its unique
    // ≥2-char prefix extension; fold chains resolve to the run's last
    // (greatest) key, which is the reference's final absorb target. Types
    // without firstname folding never fold, so each key is its own entity.
    val w2 = Window.partitionBy(col("doc_id"), tpe).orderBy(col("key1"))
    // Uniqueness guard: a following key that extends prevk disqualifies
    // the fold (prevk is an ambiguous first name) — UNLESS it extends
    // key1 itself, which in the reference takes the detection branch
    // (CorefBase.groovy:108-112) and never increments prevk's extension
    // count, so chains FIRST / FIRST LAST / FIRST LAST SUFFIX chain-merge.
    val fnWithPrev = param(p => lit(p.firstnameMerge)) &&
      col("prevk").isNotNull && length(col("prevk")) >= 2 &&
      col("key1").startsWith(col("prevk")) && col("key1") =!= col("prevk") &&
      (col("next1").isNull || !col("next1").startsWith(col("prevk")) ||
        col("next1").startsWith(col("key1")))
    // Survivor = segment max, taken as a window over (doc, type, comp2):
    // the rows are already partitioned/sorted for w2, so this adds no
    // shuffle — vs the groupBy+join-back alternative (one extra
    // exchange + join in the pipeline's hottest path).
    val keyToEntity = CacheScope.pin(clusters1
      .withColumn("prevk", lag(col("key1"), 1).over(w2))
      .withColumn("next1", lead(col("key1"), 1).over(w2))
      .withColumn("fold", fnWithPrev)
      .withColumn("comp2",
        sum(when(col("fold"), 0).otherwise(1))
          .over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("entity_text",
        max(col("key1")).over(Window.partitionBy(col("doc_id"), tpe, col("comp2"))))
      .select(col("doc_id"), tpe, col("key1"), col("cnt1"), col("entity_text")))

    val createdBy = param(p => lit(p.createdBy))
    def entityId(text: Column): Column = xxhash64(tpe, createdBy, col("doc_id"), text)

    val entities = keyToEntity
      .groupBy(col("doc_id"), tpe, col("entity_text"))
      .agg(sum(col("cnt1")).as("num_mentions"))
      .select(entityId(col("entity_text")).as("entity_id"), col("doc_id"),
        tpe.as("entity_type"), col("entity_text"), createdBy.as("created_by"),
        col("num_mentions"), lit(1L).as("num_docs"))

    val assignment = normed
      .select(col("mention_id"), col("doc_id"), tpe, col("norm"))
      .join(stage1.select(col("doc_id"), tpe, col("norm"), col("comp")),
        Seq("doc_id", "mention_type", "norm"))
      .join(clusters1.select(col("doc_id"), tpe, col("comp"), col("key1")),
        Seq("doc_id", "mention_type", "comp"))
      .join(keyToEntity.select(col("doc_id"), tpe, col("key1"), col("entity_text")),
        Seq("doc_id", "mention_type", "key1"))
      .select(col("mention_id"), entityId(col("entity_text")).as("entity_id"))

    CorefResult(entities, assignment)
  }

  /** Across-document coreference for one entity type. */
  def acrossDoc(entities: DataFrame, p: AcrossDocParams): CorefResult =
    acrossDocAll(entities, Seq(p))

  /**
   * Across-document coreference for every type in `ps` over the within-doc
   * entity table, in one pass: per-type parameters are per-row columns and
   * every group and join key carries `entity_type`. Strong candidates get
   * the fuzzy pass + MIN_NUM_DOCS filter; weak candidates are exact-merged
   * only but ALWAYS re-tagged with the weak provenance (mergeClusters runs
   * on every weak cluster incl. singletons — AcrossDocPerCoref.groovy:114).
   * Strong clusters below MIN_NUM_DOCS stay as their untouched within-doc
   * entities.
   *
   * @param entities within-doc entity table (schema of [[withinDoc]] output)
   * @return entities: post-pass entity table for these types;
   *         assignment: (entity_id → new_entity_id) for every input entity.
   */
  def acrossDocAll(entities: DataFrame, ps: Seq[AcrossDocParams]): CorefResult = {
    val tpe = col("entity_type")
    val param = perType(tpe, ps) _
    val input = CacheScope.pin(entities.filter(tpe.isin(ps.map(_.entityType): _*)))
    val pred = param(p => candidate_predicate(col("entity_text"),
      p.numCharsMin, p.numTokensMax, p.numTokensMin, p.charsetRegex))
    val strong = input.filter(pred)
    val weak = input.filter(!pred)

    // ----- strong branch: exact + global sorted-neighborhood fuzzy merge.
    // Merge edges only connect globally sort-adjacent keys, so components
    // are contiguous runs: SortedSegments resolves them in one range
    // shuffle + O(partitions) driver stitching (no iterative CC). All
    // types share the run: keys are type-prefixed and the edge predicate
    // never links two types.
    val keys = CacheScope.pin(strong.groupBy(tpe, col("entity_text"))
      .agg(count(lit(1)).as("n_entities"), sum(col("num_mentions")).as("mentions"))
      .withColumn("tk", SortedSegments.typedKey(tpe, col("entity_text"))))
    val labels = SortedSegments.assign(keys.select(col("tk")),
      SortedSegments.sameType((a, b) => closeMatch(a, b, lit(true))))

    val withComp = keys
      .join(labels, keys("tk") === labels("k"))
      .drop("k", "tk")

    // Survivor = most common member text; ties go to the lexicographically
    // SMALLEST text (Groovy Map.max picks the first maximal entry in sorted
    // insertion order — CorefBase.groovy:232, SURVEY §7.4(2)).
    val perComp = withComp.groupBy(tpe, col("comp")).agg(
      min_by(col("entity_text"), struct((-col("n_entities")).as("neg"), col("entity_text")))
        .as("entity_text"),
      sum(col("n_entities")).as("num_docs"),
      sum(col("mentions")).as("num_mentions"))

    // Merged and weak clusters become across-doc entities (no doc_id).
    def provenance(clusters: DataFrame, createdBy: Column): DataFrame = clusters
      .withColumn("created_by", createdBy).withColumn("doc_id", lit(null).cast("long"))
      .withColumn("entity_id", xxhash64(tpe, col("created_by"), col("entity_text")))
    val merged = provenance(perComp.filter(col("num_docs") >= param(p => lit(p.minNumDocs))),
      param(p => lit(p.createdBy)))

    val strongWithComp = strong.join(withComp.select(tpe, col("entity_text"), col("comp")),
      Seq("entity_type", "entity_text"))
    val mergedAssign = strongWithComp
      .join(merged.select(tpe, col("comp"), col("entity_id").as("new_entity_id")),
        Seq("entity_type", "comp"))
      .select(col("entity_id"), col("new_entity_id"))
    val untouched = strongWithComp
      .join(merged.select(tpe, col("comp")), Seq("entity_type", "comp"), "left_anti")

    // ----- weak branch: exact merge of everything, weak provenance.
    val weakEntities = provenance(weak.groupBy(tpe, col("entity_text"))
      .agg(sum(col("num_mentions")).as("num_mentions"), count(lit(1)).as("num_docs")),
      param(p => lit(p.weakCreatedBy)))
    val weakAssign = weak.select(col("entity_id"), xxhash64(tpe,
      param(p => lit(p.weakCreatedBy)), col("entity_text")).as("new_entity_id"))

    val outCols = Seq("entity_id", "doc_id", "entity_type", "entity_text",
      "created_by", "num_mentions", "num_docs").map(col)
    val outEntities = Seq(merged, weakEntities, untouched)
      .map(_.select(outCols: _*)).reduce(_.unionByName(_))
    val assignment = mergedAssign.unionByName(weakAssign)
      .unionByName(untouched.select(col("entity_id"), col("entity_id").as("new_entity_id")))
    CorefResult(outEntities, assignment)
  }

  /**
   * Simple exact / global-id clustering (WithinDocSimpleCoref /
   * AcrossDocSimpleCoref — e.g. DATE entities or Twitter feeds with
   * upstream global ids). Twitter-style normalization, no fuzzy pass.
   */
  def withinDocSimple(mentions: DataFrame, entityType: String,
      byGlobalId: Boolean): CorefResult = {
    val createdBy = s"within_doc_${entityType.toLowerCase}_coref"
    val normed = mentions
      .filter(col("mention_type") === entityType)
      .withColumn("norm", twitter_normalize_str(col("text")))
      .filter(col("norm") =!= "")
    val keyExpr = if (byGlobalId) col("global_id") else col("norm")
    val clustered = normed
      .filter(keyExpr.isNotNull)
      .groupBy(col("doc_id"), keyExpr.as("k"))
      .agg(count(lit(1)).as("num_mentions"),
        // Global-id clusters take the first member's text as the name
        // (CorefBase.groovy:29-33: "All the same"); pin min for determinism.
        min(col("norm")).as("entity_text"))
    val entities = clustered.select(
      xxhash64(lit(entityType), lit(createdBy), col("doc_id"), col("k")).as("entity_id"),
      col("doc_id"),
      lit(entityType).as("entity_type"),
      col("entity_text"),
      lit(createdBy).as("created_by"),
      col("num_mentions"),
      lit(1L).as("num_docs"))
    val assignment = normed.filter(keyExpr.isNotNull)
      .select(col("mention_id"),
        xxhash64(lit(entityType), lit(createdBy), col("doc_id"), keyExpr).as("entity_id"))
    CorefResult(entities, assignment)
  }

  /**
   * Across-document simple coreference (AcrossDocSimpleCoref.groovy:48-103):
   * exact-text (or global-id) clustering only — no candidate split, no
   * fuzzy pass — MIN_NUM_DOCS filter, merged clusters retagged
   * `across_doc_<type>_coref`. Below-threshold entities stay untouched.
   */
  def acrossDocSimple(entities: DataFrame, entityType: String,
      useGlobalId: Boolean = false, minNumDocs: Int = 2): CorefResult = {
    val createdBy = s"across_doc_${entityType.toLowerCase}_coref"
    val input = entities.filter(col("entity_type") === entityType)
    val hasGid = input.columns.contains("entity_global_id")
    val keyed =
      if (useGlobalId && hasGid) input.filter(col("entity_global_id").isNotNull)
        .withColumn("k", col("entity_global_id"))
      else input.withColumn("k", col("entity_text"))
    val rest =
      if (useGlobalId && hasGid) input.filter(col("entity_global_id").isNull)
      else input.limit(0)

    val clusters = keyed.groupBy(col("k")).agg(
      count(lit(1)).as("n_entities"),
      sum(col("num_mentions")).as("sum_mentions"),
      // exact clusters share one text; global-id clusters take the first
      // member's ("all the same" — CorefBase.groovy:33), pinned to min.
      min(col("entity_text")).as("survivor"))
    val merged = clusters.filter(col("n_entities") >= minNumDocs)

    val mergedEntities = merged.select(
      xxhash64(lit(entityType), lit(createdBy), col("k")).as("entity_id"),
      lit(null).cast("long").as("doc_id"),
      lit(entityType).as("entity_type"),
      col("survivor").as("entity_text"),
      lit(createdBy).as("created_by"),
      col("sum_mentions").as("num_mentions"),
      col("n_entities").cast("long").as("num_docs"))

    val mergedAssign = keyed
      .join(merged.select(col("k")), Seq("k"), "left_semi")
      .select(col("entity_id"),
        xxhash64(lit(entityType), lit(createdBy), col("k")).as("new_entity_id"))
    val untouchedCols = mergedEntities.columns
    val untouched = keyed
      .join(merged.select(col("k")), Seq("k"), "left_anti")
      .drop("k")
      .unionByName(rest.drop("k"), allowMissingColumns = true)

    CorefResult(
      mergedEntities.unionByName(untouched.select(untouchedCols.map(col): _*)),
      mergedAssign.unionByName(
        untouched.select(col("entity_id"), col("entity_id").as("new_entity_id"))))
  }
}
