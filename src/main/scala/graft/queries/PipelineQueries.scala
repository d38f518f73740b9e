package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables => T}
import graft.operators.{Coref, SocialNetwork}

/**
 * End-to-end reference pipeline (steps 3→4/5→8 of SURVEY.md §0) driven off
 * the `documents` table: adjacent-bigram shingles play the role of NER
 * PERSON mentions (deterministic ids), then within-doc coref → across-doc
 * coref → co-occurrence network → materialized counts.
 *
 * The segment formulation (merge edges only connect sort-adjacent keys →
 * cumulative-sum components, no iterative CC) makes the whole pipeline
 * window-expressible, so q40/q42 carry REAL DuckDB oracles: the entire
 * within-doc pass (normalize → exact keys → levenshtein-adjacent segments →
 * survivor argmax → firstname fold) and across-doc pass (strong/weak split →
 * global sorted-neighborhood segments → min-docs gate) are mirrored in SQL
 * below. Entity ids are xxhash64-derived (not reproducible in DuckDB), so
 * the oracle-checked outputs carry the equivalent natural key
 * (doc_id, entity_text, created_by) instead; id linkage is pinned by
 * CorefSpec/CorefPropertySpec.
 */
object PipelineQueries {

  /** Synthesize a PERSON mention table from document token bigrams
    * (starting from the memoized shared token table — see
    * TextQueries.tokensPos). */
  def syntheticMentions(s: SparkSession, d: String): DataFrame = {
    val toks = TextQueries.tokensPos(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("next", lead(col("tok"), 1).over(w))
      .filter(col("next").isNotNull)
      .select(
        col("doc_id"),
        xxhash64(col("doc_id"), col("pos")).as("mention_id"),
        lit("PERSON").as("mention_type"),
        concat_ws(" ", col("tok"), col("next")).as("text"))
  }

  // q40/q41/q42 share this pipeline; memoized per (session, dir) with
  // eagerly-materialized outputs so a Verify/Bench session pays the coref
  // cost once, deterministically in whichever query runs first (q40 in
  // driver name order).
  //
  // The shared frames are pinned with localCheckpoint rather than persist:
  // the coref lineage nests ~10 cached adaptive subplans, and on Spark 4
  // every action over such a frame pays seconds of DRIVER time generating
  // the AQE plan-update strings (each nested AdaptiveSparkPlan prints both
  // its current and initial plans, so the text blows up exponentially with
  // nesting depth — measured 6-7 s per warm action at sf0.1, ~0.1 s of
  // task time). Checkpointing truncates the lineage to a LogicalRDD leaf,
  // which removes the blowup entirely (warm actions 0.1-0.2 s measured).
  // This is a single-JVM harness context; a multi-executor deployment
  // composing the operators directly should keep persist (lineage survives
  // executor loss) or use reliable checkpoint() to a cluster-visible dir.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String),
      (DataFrame, DataFrame, DataFrame)]

  /** Drop memoized pipelines for `s` (bench passes re-run from cold) and
    * free their checkpoint blocks. */
  def resetCache(s: SparkSession): Unit = {
    resetCorefCache(s)
    resetTriangleCache(s)
    resetPairsCache(s)
    lpaCache.keys.filter(_._1 eq s).foreach { k =>
      lpaCache.remove(k).foreach(graft.operators.CacheScope.unpinCheckpoint)
    }
  }

  /** Drop ONLY the coref-pipeline memo (and the entity-network memo
    * derived from it) — Bench's q219 hook (the memos' last battery user)
    * calls this; the LPA memo must survive it because q222 (declared
    * after q219) still reads those labels. */
  def resetCorefCache(s: SparkSession): Unit = {
    cache.keys.filter(_._1 eq s).foreach { k =>
      cache.remove(k).foreach { case (a, b, c) =>
        Seq(a, b, c).foreach(graft.operators.CacheScope.unpinCheckpoint)
      }
    }
    netCache.keys.filter(_._1 eq s).foreach { k =>
      netCache.remove(k).foreach(graft.operators.CacheScope.unpinCheckpoint)
    }
  }

  /** Drop the part-triangle memo — Bench's q174 hook (its last battery
    * user; q103 is the first) calls this. */
  def resetTriangleCache(s: SparkSession): Unit =
    triCache.keys.filter(_._1 eq s).foreach { k =>
      triCache.remove(k).foreach { case (e, t) =>
        Seq(e, t).foreach(graft.operators.CacheScope.unpinCheckpoint)
      }
    }

  private val netCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The thresholded, name-resolved co-occurrence network q41/q214/q219
    * all rebuild from the (already memoized) coref frames: co-occurrence
    * pair aggregate → num_docs ≥ 2 threshold → entity-name resolution,
    * emitted as (src_text ≤ dst_text, num_docs). Memoized per
    * (session, dir) with an eager checkpoint like [[corefPipeline]], so
    * the battery pays the pair join + name joins once (q41, the first
    * user in declaration order) instead of three times — the same
    * "materialize the shared layout once" shape the memo family already
    * follows (guide §2.4). The plan inside is IDENTICAL to what q41
    * inlined before; q214/q219 take their distinct name-pair edge list
    * from it. */
  private def entityNetwork(s: SparkSession, d: String): DataFrame =
    netCache.getOrElseUpdate((s, d), {
      val (mentions, entities, assign) = corefPipeline(s, d)
      // The pair join is the expensive stage; persist its (much smaller)
      // aggregate so the two endpoint semi-joins and the materializing
      // checkpoint don't re-run it. Released once the checkpoint holds.
      val edges = SocialNetwork.cooccurrenceEdges(
        assign, mentions.select("mention_id", "doc_id"), entities,
        maxEntitiesPerDoc = SocialNetwork.DefaultMaxEntitiesPerDoc)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (_, kept) = SocialNetwork.thresholded(entities, edges)
      val names = entities.select(col("entity_id"), col("entity_text"))
      val net = kept
        .join(names.withColumnRenamed("entity_id", "src_entity_id")
          .withColumnRenamed("entity_text", "src_name"), Seq("src_entity_id"))
        .join(names.withColumnRenamed("entity_id", "dst_entity_id")
          .withColumnRenamed("entity_text", "dst_name"), Seq("dst_entity_id"))
        .select(least(col("src_name"), col("dst_name")).as("src_text"),
          greatest(col("src_name"), col("dst_name")).as("dst_text"),
          col("num_docs"))
        .localCheckpoint(true)
      edges.unpersist()
      net
    })

  private val triCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String),
      (DataFrame, DataFrame)]

  /** The part co-purchase projection q103/q174 share — the distinct
    * src < dst part-pair edge set (a lineitem self-join, the family's
    * dominant shuffle) and its per-node triangle counts — memoized per
    * (session, dir) like [[copurchaseLpa]] so the battery enumerates the
    * wedges once. Returns (edges, perNode triangle counts). */
  private def partTriangles(s: SparkSession, d: String): (DataFrame, DataFrame) =
    triCache.getOrElseUpdate((s, d), {
      val li = T.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      // LAZY checkpoint on the edge set (measured: an eager one here adds
      // a second full materialization action and cost q103 +3.5 s): the
      // tri checkpoint below is the single action — computing it runs the
      // self-join once and caches the edge blocks as a side effect, so
      // q174's deg aggregate reads the cached leaf without ever paying
      // the join again. CLUSTER CAVEAT (ADVICE r15): a lazy localCheckpoint
      // truncates lineage at plan time, so losing a cached block between
      // q103 and q174 (executor loss — disk eviction is fine) makes q174
      // unrecoverable instead of recomputed. Safe in this single-JVM
      // harness; a multi-executor deployment of this memo should use
      // persist or a reliable checkpoint() instead.
      val edges = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        .distinct()
        .localCheckpoint(false)
      val tri = graft.operators.TriangleCount.perNode(edges)
        .localCheckpoint(true)
      (edges, tri)
    })

  private val lpaCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The distinct customer↔supplier co-purchase pair set that SEVEN
    * battery queries project their graphs from (q94, q123/q222 via
    * [[copurchaseEdges]], q138, q145, q156, q183, q188 — each symmetrizes
    * or orients these same rows). Memoized per (session, dir) with an
    * eager checkpoint like [[corefPipeline]]: the orders⋈lineitem join +
    * distinct is identical in every one of them, so the battery pays it
    * once and each query's own plan starts from the cached pair leaf
    * (guide §2.4 — materialize a shared layout once). Released by
    * Bench's q222 hook (the last battery user in declaration order). */
  private def copurchasePairs(s: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate((s, d), {
      T.orders(s, d)
        .join(T.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + lit(1000000000L)).as("supp"))
        .distinct()
        .localCheckpoint(true)
    })

  /** Drop the co-purchase pair memo — Bench's q222 hook calls this. */
  def resetPairsCache(s: SparkSession): Unit =
    pairsCache.keys.filter(_._1 eq s).foreach { k =>
      pairsCache.remove(k).foreach(graft.operators.CacheScope.unpinCheckpoint)
    }

  /** The directed co-purchase edge list q123/q222 share (q94/q138/q188
    * build its symmetrized variant from the same memoized pairs). */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    copurchasePairs(s, d)
      .select(col("cust").as("src"), col("supp").as("dst"))

  /** q123's 3-round LPA membership, memoized per (session, dir) like
    * [[corefPipeline]] so the battery pays the propagation once (q123
    * runs first in declaration order; q222 reuses the labels for its
    * modularity scorecard). Eagerly checkpointed inside the memo so
    * the releasing of the FIRST caller's tracking scope cannot strand
    * the shared frame. */
  private def copurchaseLpa(s: SparkSession, d: String): DataFrame =
    lpaCache.getOrElseUpdate((s, d), {
      graft.operators.LabelPropagation.run(copurchaseEdges(s, d), iters = 3)
        .localCheckpoint(true)
    })

  private def corefPipeline(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    cache.getOrElseUpdate((s, d), {
      val mentions = syntheticMentions(s, d).localCheckpoint(true)
      val within = Coref.withinDoc(mentions, Coref.WithinDocParams.person)
      val across = Coref.acrossDoc(within.entities, Coref.AcrossDocParams.person)
      val finalAssign = within.assignment
        .withColumnRenamed("entity_id", "within_id")
        .join(across.assignment.withColumnRenamed("entity_id", "within_id"), "within_id")
        .select(col("mention_id"), col("new_entity_id").as("entity_id"))
        .localCheckpoint(true)
      val entities = across.entities.localCheckpoint(true)
      (mentions, entities, finalAssign)
    })

  /**
   * DuckDB mirror of the coref pipeline, CTE by CTE against the Spark
   * stages (names match the operators):
   *   toks/bigrams  = syntheticMentions        (posexplode + lead)
   *   normed        = normalize_str chain      (functions/package.scala)
   *   keys..seg1    = Coref.withinDoc stage1   (lag + levenshtein ≤ 1 + cumsum)
   *   clusters1     = survivor argmax          (max cnt, ties → greater key)
   *   seg2..wd      = firstname fold           (prefix guard + segment max)
   *   wd_flag       = candidate_predicate      (strong/weak split)
   *   ad_keys..merged = Coref.acrossDoc strong (global sorted segments,
   *                     digit-run guard, survivor = max count ties → smallest,
   *                     MIN_NUM_DOCS ≥ 2)
   */
  private val CorefSql = """WITH toks AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
      WHERE toks[i] <> ''),
    bigrams AS (
      SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS mtext
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(tok, 1) OVER w IS NOT NULL),
    normed AS (
      SELECT doc_id, norm FROM (
        SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  strip_accents(upper(trim(mtext))), '\s+', ' ', 'g'),
                '^[^A-Za-z0-9-]+', ''),
              '[^A-Za-z0-9-]+$', ''),
            '[\^"<>_]', ' ', 'g') AS norm
        FROM bigrams)
      WHERE norm <> ''),
    keys AS (
      SELECT doc_id, norm, count(*) AS cnt FROM normed GROUP BY doc_id, norm),
    seg1 AS (
      SELECT doc_id, norm, cnt,
        sum(CASE WHEN prev IS NOT NULL AND levenshtein(prev, norm) <= 1
             THEN 0 ELSE 1 END)
          OVER (PARTITION BY doc_id ORDER BY norm ROWS UNBOUNDED PRECEDING) AS comp
      FROM (SELECT *, lag(norm) OVER (PARTITION BY doc_id ORDER BY norm) AS prev
            FROM keys)),
    clusters1 AS (
      SELECT doc_id, comp,
        first(norm ORDER BY cnt DESC, norm DESC) AS key1,
        CAST(sum(cnt) AS BIGINT) AS cnt1
      FROM seg1 GROUP BY doc_id, comp),
    seg2 AS (
      SELECT doc_id, key1, cnt1,
        sum(CASE WHEN prevk IS NOT NULL AND length(prevk) >= 2
                  AND starts_with(key1, prevk) AND key1 <> prevk
                  AND (next1 IS NULL OR NOT starts_with(next1, prevk)
                       OR starts_with(next1, key1))
             THEN 0 ELSE 1 END)
          OVER (PARTITION BY doc_id ORDER BY key1 ROWS UNBOUNDED PRECEDING) AS comp2
      FROM (SELECT doc_id, key1, cnt1,
              lag(key1) OVER w2 AS prevk, lead(key1) OVER w2 AS next1
            FROM clusters1 WINDOW w2 AS (PARTITION BY doc_id ORDER BY key1))),
    wd AS (
      SELECT doc_id, entity_text, CAST(sum(cnt1) AS BIGINT) AS num_mentions
      FROM (SELECT doc_id, cnt1,
              max(key1) OVER (PARTITION BY doc_id, comp2) AS entity_text
            FROM seg2)
      GROUP BY doc_id, entity_text),
    wd_flag AS (
      SELECT doc_id, entity_text, num_mentions,
        (length(entity_text) >= 5
         AND len(string_split_regex(entity_text, '\s+')) BETWEEN 2 AND 6
         AND regexp_matches(entity_text, '^[A-Za-z.\s]+$')) AS strong
      FROM wd),
    ad_keys AS (
      SELECT entity_text, count(*) AS n_entities, sum(num_mentions) AS mentions
      FROM wd_flag WHERE strong GROUP BY entity_text),
    ad_comp AS (
      SELECT entity_text, n_entities, mentions,
        sum(CASE WHEN prev IS NOT NULL AND levenshtein(prev, entity_text) <= 1
                  AND regexp_extract_all(prev, '\d+')
                      = regexp_extract_all(entity_text, '\d+')
             THEN 0 ELSE 1 END)
          OVER (ORDER BY entity_text ROWS UNBOUNDED PRECEDING) AS comp
      FROM (SELECT *, lag(entity_text) OVER (ORDER BY entity_text) AS prev
            FROM ad_keys)),
    per_comp AS (
      SELECT comp,
        first(entity_text ORDER BY n_entities DESC, entity_text ASC) AS survivor,
        CAST(sum(n_entities) AS BIGINT) AS n_entities,
        CAST(sum(mentions) AS BIGINT) AS num_mentions
      FROM ad_comp GROUP BY comp),
    merged AS (SELECT * FROM per_comp WHERE n_entities >= 2),
    wd_final AS (
      SELECT w.doc_id,
        CASE WHEN NOT w.strong THEN w.entity_text
             WHEN m.comp IS NOT NULL THEN m.survivor
             ELSE w.entity_text END AS entity_text,
        CASE WHEN NOT w.strong THEN 'weak_across_doc_person_coref'
             WHEN m.comp IS NOT NULL THEN 'across_doc_person_coref'
             ELSE 'within_doc_person_coref' END AS created_by,
        w.num_mentions
      FROM wd_flag w
      LEFT JOIN ad_comp c ON w.strong AND c.entity_text = w.entity_text
      LEFT JOIN merged m ON m.comp = c.comp)"""

  val all: Seq[Q] = Seq(

    // ---- Full ER pipeline → entity table (flagship). Output columns are
    // the natural key + stats (entity_id is xxhash64 of exactly these
    // fields — SURVEY.md §7.4(8) — and DuckDB can't compute it).
    Q("q40_coref_pipeline",
      (s, d) => {
        val (_, entities, _) = corefPipeline(s, d)
        entities.select("doc_id", "entity_type", "entity_text",
          "created_by", "num_mentions", "num_docs")
      },
      Some(CorefSql + """
        SELECT CAST(NULL AS BIGINT) AS doc_id, 'PERSON' AS entity_type,
          survivor AS entity_text, 'across_doc_person_coref' AS created_by,
          num_mentions, n_entities AS num_docs
        FROM merged
        UNION ALL
        SELECT CAST(NULL AS BIGINT) AS doc_id, 'PERSON' AS entity_type,
          entity_text, 'weak_across_doc_person_coref' AS created_by,
          CAST(sum(num_mentions) AS BIGINT) AS num_mentions,
          count(*) AS num_docs
        FROM wd_flag WHERE NOT strong GROUP BY entity_text
        UNION ALL
        SELECT w.doc_id, 'PERSON' AS entity_type, w.entity_text,
          'within_doc_person_coref' AS created_by,
          w.num_mentions, CAST(1 AS BIGINT) AS num_docs
        FROM wd_flag w
        JOIN ad_comp c ON w.strong AND c.entity_text = w.entity_text
        LEFT JOIN merged m ON m.comp = c.comp
        WHERE m.comp IS NULL""")),

    // ---- Social network over the coref'd entities (R18/R19/R14/R22).
    // Edges are keyed by survivor text (unique per across-doc entity, and
    // id order is hash order so the unordered pair is re-oriented by text
    // on both engines). The oracle skips the maxEntitiesPerDoc cap: no
    // sf0.01 doc comes within two orders of magnitude of 1000 entities.
    Q("q41_social_network",
      // The network build (pair join → threshold → name joins) moved into
      // the entityNetwork memo shared with q214/q219 — the plan is the one
      // this query always ran; the memo just stops the two later queries
      // from re-running it.
      (s, d) => entityNetwork(s, d),
      Some(CorefSql + """,
        net AS (
          SELECT DISTINCT doc_id, entity_text
          FROM wd_final WHERE created_by = 'across_doc_person_coref')
        SELECT a.entity_text AS src_text, b.entity_text AS dst_text,
          count(*) AS num_docs
        FROM net a JOIN net b
          ON a.doc_id = b.doc_id AND a.entity_text < b.entity_text
        GROUP BY a.entity_text, b.entity_text
        HAVING count(*) >= 2""")),

    // ---- Materialized doc-entity counts (R27) over the pipeline output,
    // keyed by (doc_id, entity_text, created_by) — bijective with entity_id
    // here (ids are hashes of exactly these fields) and DuckDB-reproducible.
    Q("q42_document_entity",
      (s, d) => {
        val (mentions, entities, assign) = corefPipeline(s, d)
        SocialNetwork.documentEntityCounts(
          assign, mentions.select("mention_id", "doc_id"))
          .join(entities.select("entity_id", "entity_text", "created_by"),
            Seq("entity_id"))
          .select(col("doc_id"), col("entity_text"), col("created_by"),
            col("num_mentions"))
      },
      Some(CorefSql + """
        SELECT doc_id, entity_text, created_by,
          CAST(sum(num_mentions) AS BIGINT) AS num_mentions
        FROM wd_final GROUP BY doc_id, entity_text, created_by""")),

    // ---- PageRank centrality over a co-occurrence graph (the global
    // refinement of q41's degree-style `num_docs` ranking; same operator a
    // user would point at the entity network — exercised here on the
    // customer↔supplier co-purchase graph so the oracle stays independent
    // of the coref SQL). Supplier node ids are offset by 10⁹ to disjoint
    // the two key spaces. Integer fixed-point arithmetic makes all five
    // iterations bit-identical on both engines (see PageRank scaladoc);
    // the oracle unrolls the recursion as five generated CTE pairs.
    Q("q94_pagerank",
      (s, d) => {
        val pairs = copurchasePairs(s, d)
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        graft.operators.PageRank.run(edges, iterations = 5)
          .select(col("node_id"), col("rank").as("pr"))
          .orderBy(col("pr").desc, col("node_id"))
          .limit(20)
      },
      Some(PageRankSql(5))),

    // ---- Triangle participation (graph cohesion, the next statistic
    // after q94's centrality over the same co-occurrence-graph family) —
    // parts co-ordered within an order form the edges; top-20 triangle
    // closers. Spark runs the degree-ordered orientation
    // (TriangleCount.perNode — each triangle enumerated ONCE at its
    // min-degree corner, wedge fan-out capped at O(√m), the shape that
    // survives power-law hubs); the oracle is the naive canonical a<b<c
    // triple self-join — same exact triangle set, so the integer counts
    // hash-compare.
    Q("q103_triangle_count",
      (s, d) => {
        val (_, tri) = partTriangles(s, d)
        tri
          .select(col("node_id").as("part_key"), col("n_triangles"))
          .orderBy(col("n_triangles").desc, col("part_key"))
          .limit(20)
      },
      Some("""WITH li AS (
               SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
               FROM lineitem),
             e AS (
               SELECT DISTINCT x.pk AS a, y.pk AS b
               FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
             tri AS (
               SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1
               JOIN e e2 ON e1.b = e2.a
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             corners AS (
               SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
             SELECT node AS part_key, count(*) AS n_triangles
             FROM corners GROUP BY node
             ORDER BY n_triangles DESC, part_key LIMIT 20""")),

    // ---- Data-driven length binning: integer 1-D k-means over document
    // char counts (k=4 natural size buckets, 3 Lloyd iterations) — the
    // clustering refinement of q22's hand-picked CASE thresholds, and the
    // curriculum/length-bucketing primitive a packing pipeline feeds on.
    // Exact integer arithmetic end-to-end (KMeans scaladoc); the oracle
    // unrolls the recursion as one assign/update CTE pair per iteration,
    // the q94 discipline.
    Q("q104_kmeans_bins",
      (s, d) => graft.operators.KMeans.fit1D(
        T.documents(s, d).select(col("n_chars").cast("long").as("v")),
        "v", k = 4, iters = 3),
      Some(KMeansSql(k = 4, iters = 3))),

    // ---- Label-propagation communities (deterministic synchronous LPA)
    // over the q94 co-purchase graph — the third graph statistic after
    // centrality (q94) and cohesion (q103): WHICH group each node
    // belongs to. Ties break to the smallest label via one
    // max(struct(cnt, −label)) agg per round, so the fixed-round
    // recursion is bit-identical cross-engine; the oracle unrolls all 3
    // rounds CTE-for-CTE (row_number mirror of the argmax).
    Q("q123_lpa_communities",
      (s, d) => copurchaseLpa(s, d).orderBy(col("node_id")),
      Some(LpaSql(3))),

    // ---- Multi-source BFS hop distances (Bfs.hopDistances) over the q94
    // co-purchase graph — the fourth graph statistic after centrality
    // (q94), cohesion (q103), and membership (q123): how FAR everything
    // is from a seed set, i.e. the k-hop-neighborhood primitive. Seeds =
    // the customer nodes with key ≤ 5 (present at every SF). Integer
    // hop state end-to-end; the oracle unrolls one frontier/accumulate
    // CTE pair per hop (the q94 discipline).
    Q("q138_bfs_hops",
      (s, d) => {
        val pairs = copurchasePairs(s, d)
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        val seeds = T.orders(s, d)
          .filter(col("o_custkey") <= 5)
          .select(col("o_custkey").as("node_id")).distinct()
        graft.operators.Bfs.hopDistances(edges, seeds, maxHops = 4)
          .orderBy(col("node_id"))
      },
      Some(BfsSql(4))),

    // ---- Degree assortativity (the fifth graph statistic: do hubs link
    // to hubs?) — Pearson correlation of endpoint degrees over every
    // directed edge of the symmetrized q94 graph. The six moments are
    // EXACT BIGINTs (one edge-table shuffle + two node-sized degree
    // broadcasts); r derives in double arithmetic from those exact
    // integers, the q88/q141 discipline (products go through DOUBLE to
    // dodge the n·Σxy 2⁶³ ceiling a pure-integer num/den would hit at
    // graph scale — headroom note in q141's scaladoc).
    Q("q145_assortativity",
      (s, d) => {
        val pairs = copurchasePairs(s, d)
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val xy = edges
          .join(broadcast(deg.select(col("src").as("s1"),
            col("deg").as("x"))), col("src") === col("s1"))
          .join(broadcast(deg.select(col("src").as("s2"),
            col("deg").as("y"))), col("dst") === col("s2"))
        xy.agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("n"), col("sx"), col("sxy"),
            round((col("n").cast("double") * col("sxy") -
              col("sx").cast("double") * col("sy")) /
              sqrt((col("n").cast("double") * col("sxx") -
                col("sx").cast("double") * col("sx")) *
                (col("n").cast("double") * col("syy") -
                  col("sy").cast("double") * col("sy"))), 6)
              .as("assortativity"))
      },
      Some("""WITH pairs AS (
               SELECT DISTINCT o_custkey AS cust,
                 l_suppkey + 1000000000 AS supp
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             edges AS (
               SELECT cust AS src, supp AS dst FROM pairs
               UNION ALL SELECT supp, cust FROM pairs),
             deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
             xy AS (
               SELECT dx.deg AS x, dy.deg AS y
               FROM edges e
               JOIN deg dx ON e.src = dx.src
               JOIN deg dy ON e.dst = dy.src),
             m AS (
               SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
               FROM xy)
             SELECT n, sx, sxy,
               round((CAST(n AS DOUBLE) * sxy
                   - CAST(sx AS DOUBLE) * sy) /
                 sqrt((CAST(n AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx) *
                   (CAST(n AS DOUBLE) * syy
                     - CAST(sy AS DOUBLE) * sy)), 6) AS assortativity
             FROM m""")),

    // ---- k-core peel (KCore.peel) over the q94 co-purchase graph —
    // the densest-substructure screen: customers below 25 co-purchase
    // partners peel away (suppliers sit near degree 480 and never
    // peel), and the cascade re-checks survivors each round. Fixed
    // 4-round unroll keeps it oracle-able; `converged` certifies the
    // budget reached quiescence, mirrored as a survivor-count compare.
    Q("q156_kcore",
      (s, d) => {
        val pairs = copurchasePairs(s, d)
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        graft.operators.KCore.peel(edges, k = 25, rounds = 4)
          .orderBy(col("node_id"))
      },
      Some(KCoreSql(25, 4))),

    // ---- Weighted shortest distances (4-round unrolled Bellman–Ford,
    // Bfs.relaxDistances) over the co-purchase graph with tie-strength
    // distances: w = 1000 div (shared orders), so strongly-linked pairs
    // are CLOSER — the weighted refinement of q138's hop counts (a
    // 2-hop strong path can beat a 1-hop weak edge, which hop counting
    // cannot express). Integer weights end-to-end; oracle unrolls one
    // candidate/reconcile CTE pair per round.
    Q("q157_weighted_paths",
      (s, d) => {
        val w = T.orders(s, d)
          .join(T.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_suppkey") + lit(1000000000L)).as("supp"),
            col("o_orderkey").as("ok"))
          .distinct()
          .groupBy(col("cust"), col("supp"))
          .agg(count(lit(1)).as("n_shared"))
          .select(col("cust"), col("supp"),
            expr("1000 div n_shared").as("w"))
        val edges = w.select(col("cust").as("src"), col("supp").as("dst"),
            col("w"))
          .union(w.select(col("supp").as("src"), col("cust").as("dst"),
            col("w")))
        val seeds = T.orders(s, d)
          .filter(col("o_custkey") <= 5)
          .select(col("o_custkey").as("node_id")).distinct()
        graft.operators.Bfs.relaxDistances(edges, seeds, rounds = 4)
          .orderBy(col("node_id"))
      },
      Some(BellmanSql(4))),

    // ---- Local clustering coefficient (per-node transitivity): how
    // CLIQUISH each part's co-purchase neighborhood is —
    // 2·triangles / (deg·(deg−1)) — the per-node refinement of q103's
    // raw triangle counts (cohesion WHERE, not just how much). Spark
    // reuses the degree-oriented TriangleCount.perNode (each triangle
    // once at its min-degree corner, wedge fan-out O(√m)); degrees come
    // from one symmetric groupBy; the single float division happens at
    // the end of exact-integer work. Oracle = naive canonical triple
    // self-join, same triangle set.
    Q("q174_clustering_coeff",
      (s, d) => {
        // Shared with q103 via the partTriangles memo (the round-15
        // intra-query pin was correctly rejected — ReusedExchange already
        // deduped the two consumers INSIDE one query; the memo dedups the
        // self-join + triangle enumeration ACROSS the two queries).
        val (edges, triRaw) = partTriangles(s, d)
        val deg = edges.select(col("src").as("n"))
          .union(edges.select(col("dst").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val tri = triRaw
          .select(col("node_id").as("n"), col("n_triangles"))
        deg.filter(col("deg") >= 2)
          .join(tri, Seq("n"), "left")
          .na.fill(0L, Seq("n_triangles"))
          .select(col("n").as("part_key"), col("deg"), col("n_triangles"),
            round((col("n_triangles") * 2) /
              (col("deg") * (col("deg") - 1)).cast("double"), 6)
              .as("clust_coeff"))
          .orderBy(col("clust_coeff").desc, col("part_key"))
          .limit(50)
      },
      Some("""WITH li AS (
               SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
               FROM lineitem),
             e AS (
               SELECT DISTINCT x.pk AS a, y.pk AS b
               FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
             tri AS (
               SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1
               JOIN e e2 ON e1.b = e2.a
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             corners AS (
               SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri),
             tcnt AS (
               SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
               FROM corners GROUP BY node),
             deg AS (
               SELECT node, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT a AS node FROM e
                     UNION ALL SELECT b FROM e)
               GROUP BY node)
             SELECT d.node AS part_key, d.deg,
               coalesce(t.n_triangles, 0) AS n_triangles,
               round(coalesce(t.n_triangles, 0) * 2 /
                 CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS clust_coeff
             FROM deg d LEFT JOIN tcnt t ON d.node = t.node
             WHERE d.deg >= 2
             ORDER BY clust_coeff DESC, part_key LIMIT 50""")),

    // ---- One-to-one reconciliation matching (Matching.greedyRounds):
    // customers claim the same-nation supplier with the closest account
    // balance, each supplier at most once — the assignment step after
    // ER scoring, run as 3 locally-dominant-edge rounds (per round, two
    // map-side max(struct) aggs + one node-sized equi-join; NEVER a
    // window over the pair table). Integer-cent scores keep the match
    // set bit-identical; the oracle unrolls the identical 3 rounds, so
    // the hash proves the parallel iteration == the definitional
    // per-round mutual-best semantics (MatchingSpec separately proves
    // rounds-to-exhaustion == sequential greedy).
    Q("q180_greedy_matching",
      (s, d) => {
        val c = T.customer(s, d).select(col("c_custkey").as("a"),
          col("c_nationkey").as("nk"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("ca"))
        val sp = T.supplier(s, d).select(col("s_suppkey").as("b"),
          col("s_nationkey").as("nk"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("sb"))
        val pairs = c.join(sp, "nk")
          .select(col("a"), col("b"), (-abs(col("ca") - col("sb"))).as("sc"))
        graft.operators.Matching.greedyRounds(pairs, "a", "b", "sc",
            rounds = 3)
          .orderBy(col("round"), col("a"))
      },
      Some(MatchingSql(3))),

    // ---- Personalized PageRank (random walk with restart) over the q94
    // co-purchase graph, seeded at customers 1-30: "which suppliers and
    // customers matter FROM these accounts" — the recommendation/
    // neighborhood-expansion query, vs q94's global centrality. The
    // teleport and the dangling mass restart at the SEEDS (integer
    // fixed-point: t·(base·scale div 100) + damp·(inflow + t·(dmass div
    // |S|)) div 100), so the whole 5-iteration recursion stays
    // bit-identical in DuckDB's unrolled CTE mirror. Non-seed nodes
    // without inflow hold rank 0 — the output is naturally sparse around
    // the seeds, which is exactly the 100 TB story: mass concentrates on
    // the seeds' neighborhoods, not on graph size.
    Q("q183_personalized_pagerank",
      (s, d) => {
        val pairs = copurchasePairs(s, d)
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        val seeds = pairs.filter(col("cust") <= 30)
          .select(col("cust").as("node_id")).distinct()
        graft.operators.PageRank.personalized(edges, seeds, iterations = 5)
          .select(col("node_id"), col("rank").as("pr"))
          .orderBy(col("pr").desc, col("node_id"))
          .limit(20)
      },
      Some(PersonalizedPageRankSql(5))),

    // ---- Seed-set reachability profile: how much of the graph the
    // seed accounts reach per hop, plus the exact-integer harmonic
    // centrality mass of the seed SET (Σ 10⁶ div hops over reached
    // nodes — the closeness statistic influence analyses quote). A
    // per-hop rollup of q138's multi-source BFS: same frontier
    // expansion, O(hops) shuffles, node-sized state; the profile is an
    // O(maxHops) frame.
    Q("q188_reachability_profile",
      (s, d) => {
        val pairs = copurchasePairs(s, d)
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        val seeds = T.orders(s, d)
          .filter(col("o_custkey") <= 5)
          .select(col("o_custkey").as("node_id")).distinct()
        graft.operators.Bfs.hopDistances(edges, seeds, maxHops = 4)
          .groupBy(col("hops"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(when(col("hops") > 0, expr("1000000 div hops"))
              .otherwise(0L)).as("harmonic_u"))
          .orderBy(col("hops"))
      },
      Some(ReachProfileSql(4))),

    // ---- CAPACITATED reconciliation (q180's b-matching form): each
    // supplier absorbs up to THREE same-nation customers (the
    // master-record-absorbs-many-sources shape), customers stay
    // one-to-one — 3 b-suitor rounds (per round: two per-node rank
    // windows over the remaining pool + node-sized capacity joins;
    // rounds-to-exhaustion == sequential capacity greedy, proven in
    // MatchingSpec). The oracle unrolls rounds AND capacity state
    // CTE-for-CTE, so the hash pins the whole capacity bookkeeping.
    Q("q199_capacitated_matching",
      (s, d) => {
        val c = T.customer(s, d).select(col("c_custkey").as("a"),
          col("c_nationkey").as("nk"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("ca"))
        val sp = T.supplier(s, d).select(col("s_suppkey").as("b"),
          col("s_nationkey").as("nk"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("sb"))
        val pairs = c.join(sp, "nk")
          .select(col("a"), col("b"), (-abs(col("ca") - col("sb"))).as("sc"))
        val capA = T.customer(s, d)
          .select(col("c_custkey").as("a"), lit(1L).as("cap"))
        val capB = T.supplier(s, d)
          .select(col("s_suppkey").as("b"), lit(3L).as("cap"))
        graft.operators.Matching.greedyRoundsCapacitated(pairs, "a", "b",
            "sc", capA, capB, rounds = 3)
          .orderBy(col("round"), col("a"))
      },
      Some(CapMatchingSql(3))),

    // ---- Motif finding (Motifs.find — the GraphFrames-style pattern
    // surface compiled straight to Catalyst joins): OPEN trade wedges
    // on the nation-level trade graph — nation a's customers buy from
    // b, b's from c, but a's never buy from c ("unclosed intermediary"
    // triads, the negative-space complement of q103's triangles). The
    // edge list is thinned to rare high-quantity/discount returns so
    // the 25-node graph is sparse enough to HAVE open wedges; the
    // pattern's two equi-joins + one anti-join mirror 1:1 into the
    // oracle's join + NOT EXISTS.
    Q("q212_motif_open_wedge",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .distinct()
          // Pinned (round 16): the motif pattern references the edge
          // frame three times (two hops + the anti leg) — unpinned, each
          // leg re-ran the whole 4-table join (12 scans in the committed
          // plan). The edge set itself is nation²-sized.
          .transform(graft.operators.CacheScope.pin(_))
        graft.operators.Motifs
          .find(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
          .filter(col("a") =!= col("b") && col("b") =!= col("c") &&
            col("a") =!= col("c"))
          .groupBy(col("a"))
          .agg(count(lit(1)).as("n_open"))
          .orderBy(col("a"))
      },
      Some("""WITH e AS (
               SELECT DISTINCT c.c_nationkey AS s, su.s_nationkey AS d
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R'),
             w AS (
               SELECT e1.s AS a, e1.d AS b, e2.d AS c
               FROM e e1 JOIN e e2 ON e1.d = e2.s
               WHERE NOT EXISTS (
                   SELECT 1 FROM e e3 WHERE e3.s = e1.s AND e3.d = e2.d)
                 AND e1.s <> e1.d AND e1.d <> e2.d AND e1.s <> e2.d)
             SELECT a, count(*) AS n_open
             FROM w GROUP BY a ORDER BY a""")),

    // ---- Hybrid retrieval (Retrieval.rrfFuse): reciprocal-rank fusion
    // of a lexical BM25 top-20 (q102's scorer, terms fixed) with a
    // semantic cosine top-20 (vec 0 as the embedded query, q195's brute
    // scorer — the spec-reference tier is fine at k·|corpus| = 20·500).
    // Ids share a space (doc_id == vec_id where both exist); each
    // system contributes the exact integer 1e6 div (60 + rank), so the
    // fused score is int64-reproducible in any engine. Both rank lists
    // are ≤ 20 rows — the single-partition rank windows are bounded.
    Q("q213_hybrid_rrf",
      (s, d) => {
        val lexW = org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id"))
        val lex = graft.sinks.SearchIndex
          .bm25(TextQueries.tokens(s, d),
            Seq("query", "window", "stream"), topK = 20)
          .select(col("doc_id").as("id"), row_number().over(lexW).as("rank"))
        val e = T.embeddings(s, d)
        val sem = graft.operators.Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") === 0),
            "vec_id", "embedding", k = 20)
          .select(col("n_id").as("id"), col("rank"))
        graft.operators.Retrieval
          .rrfFuse(Seq("lex" -> lex, "sem" -> sem), idCols = Seq("id"))
          .orderBy(col("rrf_micro").desc, col("id"))
          .limit(15)
      },
      Some("""WITH t AS (
               SELECT doc_id, tok FROM (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents) WHERE tok <> ''),
             dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
             tot AS (SELECT count(*) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS total_toks FROM dl),
             cand AS (
               SELECT doc_id, tok, count(*) AS tf FROM t
               WHERE tok IN ('query', 'window', 'stream')
               GROUP BY doc_id, tok),
             dfs AS (SELECT tok, count(DISTINCT doc_id) AS df
               FROM cand GROUP BY tok),
             scored AS (
               SELECT c.doc_id,
                 CAST(round(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                      * CAST(n_docs AS DOUBLE) / CAST(total_toks AS DOUBLE)))
                   * 1000000) AS BIGINT) AS score_micro
               FROM cand c JOIN dfs USING (tok) JOIN dl USING (doc_id)
               CROSS JOIN tot),
             lex_top AS (
               SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS s
               FROM scored GROUP BY doc_id
               ORDER BY s DESC, doc_id LIMIT 20),
             lexr AS (
               SELECT doc_id AS id,
                 row_number() OVER (ORDER BY s DESC, doc_id) AS rank
               FROM lex_top),
             v AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
             q AS (SELECT emb AS q_emb FROM v WHERE vec_id = 0),
             sims AS (
               SELECT c.vec_id,
                 list_inner_product(c.emb, q_emb) /
                   (sqrt(list_inner_product(c.emb, c.emb)) *
                    sqrt(list_inner_product(q_emb, q_emb))) AS sim
               FROM v c CROSS JOIN q WHERE c.vec_id <> 0),
             semr AS (
               SELECT id, rank FROM (
                 SELECT vec_id AS id,
                   row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
                 FROM sims) WHERE rank <= 20),
             u AS (SELECT id, rank FROM lexr
               UNION ALL SELECT id, rank FROM semr)
             SELECT id, count(*) AS n_systems, CAST(min(rank) AS INT) AS best_rank,
               CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
             FROM u GROUP BY id
             ORDER BY rrf_micro DESC, id LIMIT 15""")),

    // ---- Motifs on the reference's own graph: BROKER entities in the
    // q41 co-occurrence network — b co-occurs with both a and c, but a
    // and c never co-occur directly, so b is the only path between them
    // (Burt's structural holes; in VizLinc terms, the person linking two
    // otherwise-separate circles — see SURVEY §0's analyst workflow).
    // The thresholded edge set is symmetrized (the network is
    // undirected) and the open-wedge pattern counts distinct brokered
    // (a, c) pairs per b; a < c dedupes the unordered pair.
    //
    // HUB GUARD: wedges per node are C(deg, 2) — a few hub entities
    // (very common names co-occurring with everything) inflate the
    // wedge frame quadratically in THEIR degree (first bench of the
    // uncapped query: 6.5 GB shuffle, 60 s, vs 77 MB for the next
    // heaviest graph query). Brokerage is computed on the induced
    // subgraph of nodes with degree ≤ 32 via the SHARED, spec'd
    // GraphOps.degreeCapped (VERDICT r10 #2 — the guard's kept-node /
    // induced-edge semantics are pinned once in GraphOpsSpec, not
    // restated per query): hubs connect everything and broker nothing
    // meaningful, and the cap bounds the wedge frame by nodes·C(32,2)
    // — linear in the graph. Same guard class as q103's triangle join;
    // the oracle mirrors the degree CTE + induced edges.
    Q("q214_motif_brokers",
      (s, d) => {
        val und = entityNetwork(s, d)
          .select(col("src_text").as("s"), col("dst_text").as("d"))
          .distinct()
        val capped = graft.operators.GraphOps.degreeCapped(und, 32, "s", "d")
        val induced = capped.union(
          capped.select(col("d").as("s"), col("s").as("d")))
        graft.operators.Motifs
          .find(induced, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)",
            srcCol = "s", dstCol = "d")
          .filter(col("a") < col("c"))
          .groupBy(col("b")).agg(count(lit(1)).as("n_brokered"))
          .select(col("b").as("broker"), col("n_brokered"))
          .orderBy(col("broker"))
      },
      Some(CorefSql + """,
        net AS (
          SELECT DISTINCT doc_id, entity_text
          FROM wd_final WHERE created_by = 'across_doc_person_coref'),
        e0 AS (
          SELECT a.entity_text AS s, b.entity_text AS d
          FROM net a JOIN net b
            ON a.doc_id = b.doc_id AND a.entity_text < b.entity_text
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0),
        deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
        keep AS (SELECT s AS n FROM deg WHERE deg <= 32),
        ei AS (
          SELECT e.s, e.d FROM e
          JOIN keep k1 ON e.s = k1.n JOIN keep k2 ON e.d = k2.n),
        w AS (
          SELECT e1.s AS a, e1.d AS b, e2.d AS c
          FROM ei e1 JOIN ei e2 ON e1.d = e2.s
          WHERE e1.s < e2.d
            AND NOT EXISTS (
              SELECT 1 FROM ei e3 WHERE e3.s = e1.s AND e3.d = e2.d))
        SELECT b AS broker, count(*) AS n_brokered
        FROM w GROUP BY b ORDER BY broker""")),

    // ---- Edge-variable motifs: MAX-BOTTLENECK 2-hop routes between
    // non-partner nations. q212's thinned trade edges gain an integer
    // weight (qualifying-lineitem count); the pattern binds both hop
    // edges as structs — `(a)-[e1]->(b); (b)-[e2]->(c); !(a)-[]->(c)` —
    // so the route capacity min(w1, w2) is computed straight off the
    // bindings, no re-join. Best intermediary per unlinked (a, c) pair
    // via the library's map-side-combined min(struct(-cap, via)) argmax
    // (exact integers; smallest via on ties); the oracle mirrors with a
    // rank window over the same join + NOT EXISTS frame.
    Q("q215_motif_bottleneck",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
          // Pinned (round 16) — three motif legs, same rationale as q212.
          .transform(graft.operators.CacheScope.pin(_))
        graft.operators.Motifs
          .find(e, "(a)-[e1]->(b); (b)-[e2]->(c); !(a)-[]->(c)")
          .filter(col("a") =!= col("b") && col("b") =!= col("c") &&
            col("a") =!= col("c"))
          .select(col("a"), col("c"),
            least(col("e1.w"), col("e2.w")).as("cap"), col("b"))
          .groupBy(col("a"), col("c"))
          .agg(min(struct((-col("cap")).as("ncap"), col("b").as("via")))
            .as("m"))
          .select(col("a"), col("c"), (-col("m.ncap")).as("bottleneck"),
            col("m.via").as("via"))
          .orderBy(col("a"), col("c"))
      },
      Some("""WITH e AS (
               SELECT c.c_nationkey AS s, su.s_nationkey AS d,
                 count(*) AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R'
               GROUP BY 1, 2),
             w AS (
               SELECT e1.s AS a, e2.d AS c, e1.d AS b,
                 least(e1.w, e2.w) AS cap
               FROM e e1 JOIN e e2 ON e1.d = e2.s
               WHERE NOT EXISTS (
                   SELECT 1 FROM e e3 WHERE e3.s = e1.s AND e3.d = e2.d)
                 AND e1.s <> e1.d AND e1.d <> e2.d AND e1.s <> e2.d),
             r AS (
               SELECT a, c, b AS via, cap,
                 row_number() OVER (PARTITION BY a, c
                   ORDER BY cap DESC, b) AS rk
               FROM w)
             SELECT a, c, CAST(cap AS BIGINT) AS bottleneck, via
             FROM r WHERE rk = 1 ORDER BY a, c""")),

    // ---- DeepWalk corpus over the trade network (Walks): every nation
    // starts 2 hash-seeded walkers on q212's thinned edge set (self
    // loops dropped so walks move), 3 uniform steps each — the draw is
    // the argmin of md5(seed|walk|step|u|v) over the out-neighborhood,
    // so the whole recursion replays in SQL: one (candidates, rank-1
    // pick) CTE pair per step, then the skip-gram window-2 self-join
    // that turns the corpus into training pairs. Per step the Spark
    // side is one frontier×edges equi-join + a map-side-combined
    // min(struct) — frontier size NEVER grows (|nodes|·2 rows); at
    // 100 TB the edge table is bucketed by src once and every step
    // reuses the layout (scaladoc in operators/Walks.scala).
    Q("q216_walk_corpus",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val walks = graft.operators.Walks
          .deterministicWalks(e, walksPerNode = 2, walkLength = 3,
            seed = "w2v")
        graft.operators.Walks.skipgramPairs(walks, window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some("""WITH e AS (
               SELECT DISTINCT CAST(c.c_nationkey AS VARCHAR) AS src,
                 CAST(su.s_nationkey AS VARCHAR) AS dst
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R' AND c.c_nationkey <> su.s_nationkey),
             w0 AS (
               SELECT s.src || '#' || r.r AS walk_id, s.src AS node
               FROM (SELECT DISTINCT src FROM e) s
               CROSS JOIN (SELECT unnest([0, 1]) AS r) r),
             c1 AS (
               SELECT w.walk_id, e.dst,
                 md5('w2v|' || w.walk_id || '|1|' || w.node || '|' || e.dst)
                   AS h
               FROM w0 w JOIN e ON w.node = e.src),
             w1 AS (
               SELECT walk_id, dst AS node FROM (
                 SELECT walk_id, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM c1)
               WHERE rk = 1),
             c2 AS (
               SELECT w.walk_id, e.dst,
                 md5('w2v|' || w.walk_id || '|2|' || w.node || '|' || e.dst)
                   AS h
               FROM w1 w JOIN e ON w.node = e.src),
             w2 AS (
               SELECT walk_id, dst AS node FROM (
                 SELECT walk_id, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM c2)
               WHERE rk = 1),
             c3 AS (
               SELECT w.walk_id, e.dst,
                 md5('w2v|' || w.walk_id || '|3|' || w.node || '|' || e.dst)
                   AS h
               FROM w2 w JOIN e ON w.node = e.src),
             w3 AS (
               SELECT walk_id, dst AS node FROM (
                 SELECT walk_id, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM c3)
               WHERE rk = 1),
             corpus AS (
               SELECT walk_id, 0 AS step, node FROM w0
               UNION ALL SELECT walk_id, 1, node FROM w1
               UNION ALL SELECT walk_id, 2, node FROM w2
               UNION ALL SELECT walk_id, 3, node FROM w3)
             SELECT a.node AS center, b.node AS context,
               count(*) AS pairs
             FROM corpus a JOIN corpus b
               ON a.walk_id = b.walk_id
              AND b.step > a.step AND b.step <= a.step + 2
             GROUP BY 1, 2 ORDER BY center, context""")),

    // ---- 4-truss of the trade network (KTruss): the edge-level
    // cohesion screen — an edge survives only while it closes >= 2
    // triangles among survivors, so hub spokes peel and the clique-ish
    // trade blocs remain (Cohen 2008). Fixed 3-round peel, the
    // q94/q110/q156 unrolling discipline: each round is one oriented
    // wedge join closed by a LEFT SEMI probe, a 3-way union charging
    // each triangle to its edges, one map-side-combined count, one
    // left-join score + filter; the oracle replays all three rounds
    // CTE-for-CTE (a converged early exit is idempotent under the
    // extra unrolled round).
    Q("q217_ktruss",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        graft.operators.KTruss.peel(e, k = 4, rounds = 3)
          .select(col("s"), col("d"), col("support"))
          .orderBy(col("s"), col("d"))
      },
      Some("""WITH raw AS (
               SELECT DISTINCT c.c_nationkey AS x, su.s_nationkey AS y
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R' AND c.c_nationkey <> su.s_nationkey),
             e0 AS (SELECT DISTINCT least(x, y) AS s, greatest(x, y) AS d
               FROM raw),
             t1 AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
               FROM e0 e1 JOIN e0 e2 ON e1.s = e2.s AND e1.d < e2.d
               WHERE EXISTS (SELECT 1 FROM e0 e3
                 WHERE e3.s = e1.d AND e3.d = e2.d)),
             s1 AS (SELECT s, d, count(*) AS sup FROM (
                 SELECT a AS s, b AS d FROM t1
                 UNION ALL SELECT a AS s, c AS d FROM t1
                 UNION ALL SELECT b AS s, c AS d FROM t1)
               GROUP BY 1, 2),
             e1 AS (SELECT e.s, e.d, coalesce(s1.sup, 0) AS sup
               FROM e0 e LEFT JOIN s1 ON e.s = s1.s AND e.d = s1.d
               WHERE coalesce(s1.sup, 0) >= 2),
             t2 AS (SELECT x1.s AS a, x1.d AS b, x2.d AS c
               FROM e1 x1 JOIN e1 x2 ON x1.s = x2.s AND x1.d < x2.d
               WHERE EXISTS (SELECT 1 FROM e1 x3
                 WHERE x3.s = x1.d AND x3.d = x2.d)),
             s2 AS (SELECT s, d, count(*) AS sup FROM (
                 SELECT a AS s, b AS d FROM t2
                 UNION ALL SELECT a AS s, c AS d FROM t2
                 UNION ALL SELECT b AS s, c AS d FROM t2)
               GROUP BY 1, 2),
             e2 AS (SELECT e.s, e.d, coalesce(s2.sup, 0) AS sup
               FROM e1 e LEFT JOIN s2 ON e.s = s2.s AND e.d = s2.d
               WHERE coalesce(s2.sup, 0) >= 2),
             t3 AS (SELECT x1.s AS a, x1.d AS b, x2.d AS c
               FROM e2 x1 JOIN e2 x2 ON x1.s = x2.s AND x1.d < x2.d
               WHERE EXISTS (SELECT 1 FROM e2 x3
                 WHERE x3.s = x1.d AND x3.d = x2.d)),
             s3 AS (SELECT s, d, count(*) AS sup FROM (
                 SELECT a AS s, b AS d FROM t3
                 UNION ALL SELECT a AS s, c AS d FROM t3
                 UNION ALL SELECT b AS s, c AS d FROM t3)
               GROUP BY 1, 2),
             e3 AS (SELECT e.s, e.d, coalesce(s3.sup, 0) AS sup
               FROM e2 e LEFT JOIN s3 ON e.s = s3.s AND e.d = s3.d
               WHERE coalesce(s3.sup, 0) >= 2)
             SELECT CAST(s AS BIGINT) AS s, CAST(d AS BIGINT) AS d,
               CAST(sup AS BIGINT) AS support
             FROM e3 ORDER BY s, d""")),

    // ---- node2vec corpus on the SYMMETRIZED trade network
    // (Walks.node2vecWalks): the second-order draw weights a return to
    // the previous node (1 ticket), a common neighbor of prev and cur
    // (2), and an outward move (4 — DFS-leaning, q < 1 in node2vec
    // terms); candidate v holds w lottery tickets and the draw is the
    // md5 argmin over (candidate, ticket), so the biased recursion
    // replays exactly: per step a candidates CTE (weight CASE + the
    // prev-adjacency EXISTS probe), a ticket expansion (fixed 8-slot
    // list, WHERE i < w), and the rank-1 pick. Spark side: frontier
    // carries (node, prev), one equi-join + one left adjacency probe +
    // a bounded explode + min(struct) per step — frontier never grows.
    Q("q218_node2vec_corpus",
      (s, d) => {
        val und = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val sym = und.union(und.select(col("dst").as("src"),
          col("src").as("dst")))
        val walks = graft.operators.Walks
          .node2vecWalks(sym, walksPerNode = 2, walkLength = 3,
            seed = "n2v", wReturn = 1, wCommon = 2, wOut = 4)
        graft.operators.Walks.skipgramPairs(walks, window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some("""WITH raw AS (
               SELECT DISTINCT CAST(c.c_nationkey AS VARCHAR) AS x,
                 CAST(su.s_nationkey AS VARCHAR) AS y
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R' AND c.c_nationkey <> su.s_nationkey),
             e AS (SELECT x AS src, y AS dst FROM raw
                   UNION SELECT y AS src, x AS dst FROM raw),
             tick AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i),
             w0 AS (
               SELECT s.src || '#' || r.r AS walk_id, s.src AS node,
                 CAST(NULL AS VARCHAR) AS prev
               FROM (SELECT DISTINCT src FROM e) s
               CROSS JOIN (SELECT unnest([0, 1]) AS r) r),
             c1 AS (
               SELECT w.walk_id, w.node, e.dst, 1 AS tw
               FROM w0 w JOIN e ON w.node = e.src),
             x1 AS (
               SELECT c.walk_id, c.node, c.dst,
                 md5('n2v|' || c.walk_id || '|1|' || c.node || '|'
                   || c.dst || '|' || t.i) AS h
               FROM c1 c CROSS JOIN tick t WHERE t.i < c.tw),
             w1 AS (
               SELECT walk_id, dst AS node, node AS prev FROM (
                 SELECT walk_id, node, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM x1)
               WHERE rk = 1),
             c2 AS (
               SELECT w.walk_id, w.node, e.dst,
                 CASE WHEN e.dst = w.prev THEN 1
                   WHEN EXISTS (SELECT 1 FROM e e2
                     WHERE e2.src = w.prev AND e2.dst = e.dst) THEN 2
                   ELSE 4 END AS tw
               FROM w1 w JOIN e ON w.node = e.src),
             x2 AS (
               SELECT c.walk_id, c.node, c.dst,
                 md5('n2v|' || c.walk_id || '|2|' || c.node || '|'
                   || c.dst || '|' || t.i) AS h
               FROM c2 c CROSS JOIN tick t WHERE t.i < c.tw),
             w2 AS (
               SELECT walk_id, dst AS node, node AS prev FROM (
                 SELECT walk_id, node, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM x2)
               WHERE rk = 1),
             c3 AS (
               SELECT w.walk_id, w.node, e.dst,
                 CASE WHEN e.dst = w.prev THEN 1
                   WHEN EXISTS (SELECT 1 FROM e e2
                     WHERE e2.src = w.prev AND e2.dst = e.dst) THEN 2
                   ELSE 4 END AS tw
               FROM w2 w JOIN e ON w.node = e.src),
             x3 AS (
               SELECT c.walk_id, c.node, c.dst,
                 md5('n2v|' || c.walk_id || '|3|' || c.node || '|'
                   || c.dst || '|' || t.i) AS h
               FROM c3 c CROSS JOIN tick t WHERE t.i < c.tw),
             w3 AS (
               SELECT walk_id, dst AS node, node AS prev FROM (
                 SELECT walk_id, node, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM x3)
               WHERE rk = 1),
             corpus AS (
               SELECT walk_id, 0 AS step, node FROM w0
               UNION ALL SELECT walk_id, 1, node FROM w1
               UNION ALL SELECT walk_id, 2, node FROM w2
               UNION ALL SELECT walk_id, 3, node FROM w3)
             SELECT a.node AS center, b.node AS context,
               count(*) AS pairs
             FROM corpus a JOIN corpus b
               ON a.walk_id = b.walk_id
              AND b.step > a.step AND b.step <= a.step + 2
             GROUP BY 1, 2 ORDER BY center, context""")),

    // ---- Walk corpus on the REFERENCE'S OWN graph: entity-embedding
    // training pairs for q41's thresholded co-occurrence network (the
    // VizLinc analyst graph — SURVEY §0 step 8). One hash-seeded walker
    // per entity, 3 uniform steps on the symmetrized network, window-2
    // skip-gram pairs: the DeepWalk input that turns the entity graph
    // into embeddings for "who moves in the same circles" similarity.
    // No hub cap needed — the walk frontier is |nodes| rows regardless
    // of degree (hubs change WHERE walkers go, not how many there are).
    // Oracle: q214's coref + network CTEs, then the q216 unrolling.
    Q("q219_entity_walks",
      (s, d) => {
        val und = entityNetwork(s, d)
          .select(col("src_text").as("s"), col("dst_text").as("d"))
          .distinct()
        val sym = und.union(und.select(col("d").as("s"), col("s").as("d")))
        val walks = graft.operators.Walks.deterministicWalks(
          sym.select(col("s").as("src"), col("d").as("dst")),
          walksPerNode = 1, walkLength = 3, seed = "ent")
        graft.operators.Walks.skipgramPairs(walks, window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some(CorefSql + """,
        net AS (
          SELECT DISTINCT doc_id, entity_text
          FROM wd_final WHERE created_by = 'across_doc_person_coref'),
        e0 AS (
          SELECT a.entity_text AS s, b.entity_text AS d
          FROM net a JOIN net b
            ON a.doc_id = b.doc_id AND a.entity_text < b.entity_text
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0),
        w0 AS (
          SELECT s || '#0' AS walk_id, s AS node
          FROM (SELECT DISTINCT s FROM e)),
        c1 AS (
          SELECT w.walk_id, e.d AS dst,
            md5('ent|' || w.walk_id || '|1|' || w.node || '|' || e.d) AS h
          FROM w0 w JOIN e ON w.node = e.s),
        w1 AS (
          SELECT walk_id, dst AS node FROM (
            SELECT walk_id, dst, row_number() OVER (
              PARTITION BY walk_id ORDER BY h, dst) AS rk FROM c1)
          WHERE rk = 1),
        c2 AS (
          SELECT w.walk_id, e.d AS dst,
            md5('ent|' || w.walk_id || '|2|' || w.node || '|' || e.d) AS h
          FROM w1 w JOIN e ON w.node = e.s),
        w2 AS (
          SELECT walk_id, dst AS node FROM (
            SELECT walk_id, dst, row_number() OVER (
              PARTITION BY walk_id ORDER BY h, dst) AS rk FROM c2)
          WHERE rk = 1),
        c3 AS (
          SELECT w.walk_id, e.d AS dst,
            md5('ent|' || w.walk_id || '|3|' || w.node || '|' || e.d) AS h
          FROM w2 w JOIN e ON w.node = e.s),
        w3 AS (
          SELECT walk_id, dst AS node FROM (
            SELECT walk_id, dst, row_number() OVER (
              PARTITION BY walk_id ORDER BY h, dst) AS rk FROM c3)
          WHERE rk = 1),
        corpus AS (
          SELECT walk_id, 0 AS step, node FROM w0
          UNION ALL SELECT walk_id, 1, node FROM w1
          UNION ALL SELECT walk_id, 2, node FROM w2
          UNION ALL SELECT walk_id, 3, node FROM w3)
        SELECT a.node AS center, b.node AS context, count(*) AS pairs
        FROM corpus a JOIN corpus b
          ON a.walk_id = b.walk_id
         AND b.step > a.step AND b.step <= a.step + 2
        GROUP BY 1, 2 ORDER BY center, context""")),

    // ---- Weighted walks on the WEIGHTED trade graph (q215's edge
    // weights = qualifying-lineitem counts): transition probability ∝
    // min(weight, 8) via the ticket draw, so heavily-traded routes
    // dominate the corpus — DeepWalk's weighted-graph form. Oracle:
    // the q218 ticket expansion with the weight coming off the edge
    // CTE instead of a CASE.
    Q("q220_weighted_walks",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val walks = graft.operators.Walks
          .weightedWalks(e, walksPerNode = 2, walkLength = 3,
            seed = "wts", cap = 8)
        graft.operators.Walks.skipgramPairs(walks, window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some("""WITH e AS (
               SELECT CAST(c.c_nationkey AS VARCHAR) AS src,
                 CAST(su.s_nationkey AS VARCHAR) AS dst,
                 least(count(*), 8) AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R' AND c.c_nationkey <> su.s_nationkey
               GROUP BY 1, 2),
             tick AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i),
             w0 AS (
               SELECT s.src || '#' || r.r AS walk_id, s.src AS node
               FROM (SELECT DISTINCT src FROM e) s
               CROSS JOIN (SELECT unnest([0, 1]) AS r) r),
             x1 AS (
               SELECT w.walk_id, e.dst,
                 md5('wts|' || w.walk_id || '|1|' || w.node || '|'
                   || e.dst || '|' || t.i) AS h
               FROM w0 w JOIN e ON w.node = e.src
               CROSS JOIN tick t WHERE t.i < e.w),
             w1 AS (
               SELECT walk_id, dst AS node FROM (
                 SELECT walk_id, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM x1)
               WHERE rk = 1),
             x2 AS (
               SELECT w.walk_id, e.dst,
                 md5('wts|' || w.walk_id || '|2|' || w.node || '|'
                   || e.dst || '|' || t.i) AS h
               FROM w1 w JOIN e ON w.node = e.src
               CROSS JOIN tick t WHERE t.i < e.w),
             w2 AS (
               SELECT walk_id, dst AS node FROM (
                 SELECT walk_id, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM x2)
               WHERE rk = 1),
             x3 AS (
               SELECT w.walk_id, e.dst,
                 md5('wts|' || w.walk_id || '|3|' || w.node || '|'
                   || e.dst || '|' || t.i) AS h
               FROM w2 w JOIN e ON w.node = e.src
               CROSS JOIN tick t WHERE t.i < e.w),
             w3 AS (
               SELECT walk_id, dst AS node FROM (
                 SELECT walk_id, dst, row_number() OVER (
                   PARTITION BY walk_id ORDER BY h, dst) AS rk FROM x3)
               WHERE rk = 1),
             corpus AS (
               SELECT walk_id, 0 AS step, node FROM w0
               UNION ALL SELECT walk_id, 1, node FROM w1
               UNION ALL SELECT walk_id, 2, node FROM w2
               UNION ALL SELECT walk_id, 3, node FROM w3)
             SELECT a.node AS center, b.node AS context,
               count(*) AS pairs
             FROM corpus a JOIN corpus b
               ON a.walk_id = b.walk_id
              AND b.step > a.step AND b.step <= a.step + 2
             GROUP BY 1, 2 ORDER BY center, context""")),

    // ---- Is trade regionalized? Modularity of the REGION partition
    // over the trade network (Modularity.communityStats): per region
    // the exact-integer scorecard (internal edges, degree sum, cut,
    // q_num = 4·m·internal − degree²) whose sum over 4m² is Newman's
    // Q — no floats anywhere, so the whole thing hash-compares. Two
    // node-sized membership joins + two map-side-combined aggregates;
    // the oracle mirrors join-for-join.
    Q("q221_region_modularity",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val mem = T.nation(s, d).select(col("n_nationkey").as("node_id"),
          col("n_regionkey").as("community"))
        graft.operators.Modularity.communityStats(e, mem)
          .orderBy(col("community"))
      },
      Some("""WITH raw AS (
               SELECT DISTINCT c.c_nationkey AS x, su.s_nationkey AS y
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R' AND c.c_nationkey <> su.s_nationkey),
             e AS (SELECT DISTINCT least(x, y) AS s, greatest(x, y) AS d
               FROM raw),
             mtot AS (SELECT count(*) AS m FROM e),
             mem AS (SELECT n_nationkey AS node_id,
               CAST(n_regionkey AS VARCHAR) AS community FROM nation),
             tagged AS (
               SELECT e.s, e.d, ms.community AS cs, md.community AS cd
               FROM e JOIN mem ms ON e.s = ms.node_id
                      JOIN mem md ON e.d = md.node_id),
             internal AS (
               SELECT cs AS community, count(*) AS internal_edges
               FROM tagged WHERE cs = cd GROUP BY 1),
             degree AS (
               SELECT community, count(*) AS degree_sum FROM (
                 SELECT cs AS community FROM tagged
                 UNION ALL SELECT cd AS community FROM tagged)
               GROUP BY 1),
             nodes AS (
               SELECT community, count(*) AS n_nodes FROM mem GROUP BY 1)
             SELECT n.community, n.n_nodes,
               coalesce(i.internal_edges, 0) AS internal_edges,
               coalesce(g.degree_sum, 0) AS degree_sum,
               CAST(coalesce(g.degree_sum, 0)
                 - 2 * coalesce(i.internal_edges, 0) AS BIGINT) AS cut,
               CAST(4 * mtot.m * coalesce(i.internal_edges, 0)
                 - coalesce(g.degree_sum, 0) * coalesce(g.degree_sum, 0)
                 AS BIGINT) AS q_num
             FROM nodes n CROSS JOIN mtot
             LEFT JOIN internal i ON n.community = i.community
             LEFT JOIN degree g ON n.community = g.community
             ORDER BY n.community""")),

    // ---- Did LPA find real structure? q123's detected communities
    // scored by q221's exact-integer modularity over the SAME
    // co-purchase graph — the detect→validate composition every
    // community pipeline needs (a high Σq_num/4m² says the labels cut
    // along sparse boundaries; singletons and giant blobs both score
    // near 0). The oracle stacks the unrolled 3-round LPA CTEs under
    // the q221 scorecard mirror. Top-20 communities by size keep the
    // output stable and review-sized; ties pinned by community id.
    Q("q222_lpa_modularity",
      (s, d) => {
        val edges = copurchaseEdges(s, d)
        val lpa = copurchaseLpa(s, d)
        val mem = lpa.select(col("node_id"), col("label").as("community"))
        // Honesty column (VERDICT r10 #4): whether the membership being
        // scored is an LPA fixed point or a budget truncation. Constant
        // per run — one broadcast 1-row aggregate, mirrored by the
        // oracle's conv CTE.
        val flag = lpa.agg(max(col("converged")).as("lpa_converged"))
        graft.operators.Modularity.communityStats(edges, mem)
          .crossJoin(broadcast(flag))
          .orderBy(col("n_nodes").desc, col("community"))
          .limit(20)
      },
      Some(LpaCtes(3) + """,
             conv AS (
               SELECT count(*) FILTER (WHERE a.label <> b.label) = 0
                 AS lpa_converged
               FROM l3 a JOIN l2 b ON a.node_id = b.node_id),
             mem AS (SELECT node_id,
               CAST(label AS VARCHAR) AS community FROM l3),
             e2 AS (SELECT cust AS s, supp AS d FROM pairs),
             mtot AS (SELECT count(*) AS m FROM e2),
             tagged AS (
               SELECT e2.s, e2.d, ms.community AS cs, md.community AS cd
               FROM e2 JOIN mem ms ON e2.s = ms.node_id
                       JOIN mem md ON e2.d = md.node_id),
             internal AS (
               SELECT cs AS community, count(*) AS internal_edges
               FROM tagged WHERE cs = cd GROUP BY 1),
             degree AS (
               SELECT community, count(*) AS degree_sum FROM (
                 SELECT cs AS community FROM tagged
                 UNION ALL SELECT cd AS community FROM tagged)
               GROUP BY 1),
             nodes AS (
               SELECT community, count(*) AS n_nodes FROM mem GROUP BY 1)
             SELECT n.community, n.n_nodes,
               coalesce(i.internal_edges, 0) AS internal_edges,
               coalesce(g.degree_sum, 0) AS degree_sum,
               CAST(coalesce(g.degree_sum, 0)
                 - 2 * coalesce(i.internal_edges, 0) AS BIGINT) AS cut,
               CAST(4 * mtot.m * coalesce(i.internal_edges, 0)
                 - coalesce(g.degree_sum, 0) * coalesce(g.degree_sum, 0)
                 AS BIGINT) AS q_num,
               conv.lpa_converged
             FROM nodes n CROSS JOIN mtot CROSS JOIN conv
             LEFT JOIN internal i ON n.community = i.community
             LEFT JOIN degree g ON n.community = g.community
             ORDER BY n.n_nodes DESC, n.community LIMIT 20""")),

    // ---- Butterflies on the co-purchase BIPARTITE graph
    // (Butterflies.pairCounts): customer pairs sharing ≥ 2 qualifying
    // suppliers form 2×2 bicliques — the bipartite cohesion motif
    // (triangles cannot exist here), the co-engagement signal behind
    // "customers like you". Thinned to quantity ≥ 40 interactions
    // (12k edges / 536k wedge pairs at sf0.01 — the wedge frame is the
    // q103 bound on supplier degree; hub mitigations per the operator
    // scaladoc). Top-20 pairs by butterfly count, ties by pair id.
    Q("q223_butterflies",
      (s, d) => {
        val e = T.orders(s, d)
          .join(T.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_quantity") >= 40)
          .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        graft.operators.Butterflies.pairCounts(e)
          .orderBy(col("butterflies").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH e AS (
               SELECT DISTINCT o_custkey AS c, l_suppkey AS s
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE l_quantity >= 40),
             w AS (
               SELECT x.c AS a, y.c AS b, count(*) AS shared
               FROM e x JOIN e y ON x.s = y.s AND x.c < y.c
               GROUP BY 1, 2)
             SELECT a, b, shared,
               CAST(shared * (shared - 1) // 2 AS BIGINT) AS butterflies
             FROM w
             ORDER BY butterflies DESC, a, b LIMIT 20""")),

    // ---- Do the trade hubs interconnect? Rich-club coefficients
    // (RichClub.coefficients) over the undirected trade network at a
    // k-ladder: per threshold the exact integer pair (2·E_k, N_k·(N_k−1))
    // whose ratio is φ(k) — no floats, 0/0 rows kept for empty clubs.
    // One degree pass + two node-sized joins + a |ks| explode + two
    // map-side-combined counts; the oracle mirrors with an unnest
    // ladder cross join.
    Q("q224_rich_club",
      (s, d) => {
        val e = T.lineitem(s, d)
          .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.09 &&
            col("l_returnflag") === "R")
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        graft.operators.RichClub
          .coefficients(e, Seq(0, 2, 4, 8, 12, 16, 20))
          .orderBy(col("k"))
      },
      Some("""WITH raw AS (
               SELECT DISTINCT c.c_nationkey AS x, su.s_nationkey AS y
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 48 AND l.l_discount >= 0.09
                 AND l.l_returnflag = 'R' AND c.c_nationkey <> su.s_nationkey),
             e AS (SELECT DISTINCT least(x, y) AS s, greatest(x, y) AS d
               FROM raw),
             deg AS (
               SELECT node, count(*) AS deg FROM (
                 SELECT s AS node FROM e UNION ALL SELECT d AS node FROM e)
               GROUP BY node),
             tagged AS (
               SELECT least(ds.deg, dd.deg) AS mindeg
               FROM e JOIN deg ds ON e.s = ds.node
                      JOIN deg dd ON e.d = dd.node),
             ks AS (SELECT unnest([0, 2, 4, 8, 12, 16, 20]) AS k),
             nk AS (
               SELECT k, count(*) AS n_k FROM ks CROSS JOIN deg
               WHERE deg > k GROUP BY k),
             ek AS (
               SELECT k, count(*) AS e_k FROM ks CROSS JOIN tagged
               WHERE mindeg > k GROUP BY k)
             SELECT ks.k, coalesce(n_k, 0) AS n_k, coalesce(e_k, 0) AS e_k,
               CAST(2 * coalesce(e_k, 0) AS BIGINT) AS phi_num,
               CAST(coalesce(n_k, 0) * (coalesce(n_k, 0) - 1) AS BIGINT)
                 AS phi_den
             FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k
             ORDER BY ks.k""")),

    // ---- TEMPORAL relay motifs with a BANDED 2-hop join — relay trade
    // `a → b at t₁, then b → c within (t₁, t₁ + 2 months]`, the
    // time-respecting 2-path that plain structural motifs (q212) cannot
    // see. The edge frame is the monthly nation-trade graph — counts
    // aggregated per (src, dst, month), thinned to w ≥ 2 — bounded by
    // |nations|²·months: DIMENSION-sized, independent of corpus rows.
    // The 2-hop join is keyed on (b, month-band) through
    // IntervalJoin.overlapJoin (keys = the shared node, grid = month
    // index / 2): hop 1's admissible window [m₁+1, m₁+2] meets hop 2's
    // point month in a shared grid cell, so the b-keyed intermediate is
    // BAND-LOCAL instead of all-history — the r11-measured ~m² months-
    // axis regime (2× months → ~2.9× wall, SCALE.md) flattens to ~m
    // (VERDICT r11 #2; the unbanded join paid |per-node history|² and
    // filtered the band AFTER). Relay capacity = min(w₁, w₂), the q215
    // bottleneck idea under a time constraint. Oracle: same aggregate +
    // self-join + interval band, CTE for CTE (DuckDB plans the band
    // predicate its own way; the pair set is identical).
    Q("q226_temporal_relay",
      (s, d) => {
        val mo = (year(col("month")) * 12 + month(col("month")))
          .cast("long")
        val e = T.lineitem(s, d)
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("l_quantity") >= 45 &&
            col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"),
            col("s_nationkey").as("dst"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
          // Pinned (round 16): hop1/hop2 are two projections of this
          // frame and their differing shapes defeat exchange reuse — the
          // committed plan showed the 4-table join + aggregate built
          // TWICE. The output is dimension-sized (nations²·months); the
          // build is the lineitem-sized part.
          .transform(graft.operators.CacheScope.pin(_))
        val hop1 = e.select(col("src").as("a"), col("dst").as("b"),
          (mo + 1).as("lo1"), (mo + 2).as("hi1"), col("w").as("w1"))
        val hop2 = e.select(col("src").as("b"), col("dst").as("c"),
          mo.as("lo2"), mo.as("hi2"), col("w").as("w2"))
        graft.operators.IntervalJoin.overlapJoin(hop1, hop2,
            "lo1", "hi1", "lo2", "hi2", bucket = 2L, maxSpan = 2,
            keys = Seq("b"))
          .filter(col("a") =!= col("c"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n_relays"),
            sum(least(col("w1"), col("w2"))).as("relay_capacity"))
          .select(col("b").as("transit"), col("n_relays"),
            col("relay_capacity"))
          .orderBy(col("transit"))
      },
      Some("""WITH base AS (
               SELECT c.c_nationkey AS src, su.s_nationkey AS dst,
                 date_trunc('month', o.o_orderdate) AS month,
                 count(*) AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 45
                 AND c.c_nationkey <> su.s_nationkey
               GROUP BY 1, 2, 3 HAVING count(*) >= 2),
             r AS (
               SELECT e1.dst AS b, least(e1.w, e2.w) AS cap
               FROM base e1 JOIN base e2 ON e1.dst = e2.src
               WHERE e1.src <> e2.dst
                 AND e1.month < e2.month
                 AND e2.month <= e1.month + INTERVAL 2 MONTH)
             SELECT b AS transit, count(*) AS n_relays,
               CAST(sum(cap) AS BIGINT) AS relay_capacity
             FROM r GROUP BY b ORDER BY transit""")),

    // ---- WEIGHTED modularity (Newman 2004's weighted generalization,
    // Modularity weightCol face): the q221 region scorecard re-scored
    // with edge weight = qualifying-lineitem count, so heavily-traded
    // lanes dominate Q instead of each lane counting once — the right
    // scoring when edge multiplicity is signal (it is: a 100-shipment
    // lane is not a 1-shipment lane). Still exact integers end-to-end:
    // q_num = 4·W·w_c − S_c² with W = Σ degree_sum / 2 derived from the
    // artifact itself; same finalizeStats, same oracle shape as q221
    // with every count become a weight sum.
    Q("q227_weighted_modularity",
      (s, d) => {
        val e = T.lineitem(s, d)
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("l_quantity") >= 40 &&
            col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"),
            col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val mem = T.nation(s, d).select(col("n_nationkey").as("node_id"),
          col("n_regionkey").as("community"))
        graft.operators.Modularity.communityStats(e, mem, Some("w"))
          .orderBy(col("community"))
      },
      Some("""WITH raw AS (
               SELECT c.c_nationkey AS x, su.s_nationkey AS y,
                 count(*) AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 40
                 AND c.c_nationkey <> su.s_nationkey
               GROUP BY 1, 2),
             e AS (SELECT least(x, y) AS s, greatest(x, y) AS d,
                 CAST(sum(w) AS BIGINT) AS w
               FROM raw GROUP BY 1, 2),
             wtot AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM e),
             mem AS (SELECT n_nationkey AS node_id,
               CAST(n_regionkey AS VARCHAR) AS community FROM nation),
             tagged AS (
               SELECT e.s, e.d, e.w, ms.community AS cs, md.community AS cd
               FROM e JOIN mem ms ON e.s = ms.node_id
                      JOIN mem md ON e.d = md.node_id),
             internal AS (
               SELECT cs AS community, CAST(sum(w) AS BIGINT)
                 AS internal_edges
               FROM tagged WHERE cs = cd GROUP BY 1),
             degree AS (
               SELECT community, CAST(sum(w) AS BIGINT) AS degree_sum
               FROM (
                 SELECT cs AS community, w FROM tagged
                 UNION ALL SELECT cd AS community, w FROM tagged)
               GROUP BY 1),
             nodes AS (
               SELECT community, count(*) AS n_nodes FROM mem GROUP BY 1)
             SELECT n.community, n.n_nodes,
               coalesce(i.internal_edges, 0) AS internal_edges,
               coalesce(g.degree_sum, 0) AS degree_sum,
               CAST(coalesce(g.degree_sum, 0)
                 - 2 * coalesce(i.internal_edges, 0) AS BIGINT) AS cut,
               CAST(4 * wtot.m * coalesce(i.internal_edges, 0)
                 - coalesce(g.degree_sum, 0) * coalesce(g.degree_sum, 0)
                 AS BIGINT) AS q_num
             FROM nodes n CROSS JOIN wtot
             LEFT JOIN internal i ON n.community = i.community
             LEFT JOIN degree g ON n.community = g.community
             ORDER BY n.community""")),

    // ---- WEIGHTED label propagation (LabelPropagation weightCol
    // face): q123's deterministic LPA where each neighbor's vote
    // counts its lane weight (qualifying-lineitem count per
    // (cust, supp) pair) — the standard form on interaction graphs,
    // where a 100-purchase lane should outvote a 1-purchase lane and
    // the unweighted result can genuinely differ (hub labels win by
    // VOLUME, not by lane count). Same min-label tie-break, same
    // early-exit convergence flag, same unrolled-CTE oracle with
    // count(*) become sum(w) — the weighted recursion stays exactly
    // SQL-replayable because the weights are integers.
    Q("q230_weighted_lpa",
      (s, d) => {
        val e = T.orders(s, d)
          .join(T.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000000L)).as("dst"))
          .agg(count(lit(1)).as("w"))
        graft.operators.LabelPropagation.run(e, iters = 3, Some("w"))
          .orderBy(col("node_id"))
      },
      Some(LpaSql(3, weighted = true)))
,
    // ---- ALTERNATING STAR-CONTRACTION connected components (Kiveris
    // et al., SoCC 2014) on a deliberately HIGH-DIAMETER graph — the
    // regime where the battery's min-label CC (q76's closure) is the
    // wrong tool: chains of consecutive orderkeys inside each
    // (priority, order-month) group have diameter ≈ group size
    // (hundreds at sf0.01, thousands at sf0.1), so min-label would
    // need that many shuffle rounds while the alternation contracts
    // the chain geometrically (strict = true — the fixpoint is
    // VERIFIED, not assumed; rounds recorded in docs/SCALE.md cc_rounds).
    // The oracle never runs a traversal: chaining consecutive members
    // makes each group exactly one component, so component id = the
    // group's min orderkey — an analytic window, which is what makes a
    // 10³-diameter CC hash-checkable at all. Node ids are zero-padded
    // so the operator's lexicographic min IS the numeric min.
    Q("q238_star_components",
      (s, d) => {
        val o = T.orders(s, d).select(col("o_orderkey").cast("long").as("ok"),
          col("o_orderpriority").as("pri"),
          month(col("o_orderdate")).as("mo"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pri"), col("mo")).orderBy(col("ok"))
        val edges = o.withColumn("prev", lag(col("ok"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(lpad(col("prev").cast("string"), 12, "0").as("src"),
            lpad(col("ok").cast("string"), 12, "0").as("dst"))
        graft.operators.ConnectedComponents
          .runAlternating(edges, strict = true)
          .select(col("id").cast("long").as("id"),
            col("comp").cast("long").as("comp"))
          .orderBy(col("id"))
      },
      Some("""WITH g AS (
               SELECT o_orderkey AS id,
                 min(o_orderkey) OVER (PARTITION BY o_orderpriority,
                   month(o_orderdate)) AS comp,
                 count(*) OVER (PARTITION BY o_orderpriority,
                   month(o_orderdate)) AS n
               FROM orders)
             SELECT CAST(id AS BIGINT) AS id, CAST(comp AS BIGINT) AS comp
             FROM g WHERE n >= 2 ORDER BY id""")),

    // ---- ONE synchronous GREEDY MODULARITY MOVE round (the Louvain
    // phase-1 sweep, Blondel et al. 2008, distributed-synchronous
    // form) on q227's weighted nation trade graph with regions as the
    // starting membership: per nation, the exact integer modularity
    // gain of defecting to its best neighboring region —
    // Δ = 4W(w(i,b) − w(i,a)) − 2·d_i·(S_b − S_a + d_i) over the
    // scorecard's 4W² denominator — so "which nations would leave
    // their region, for whom, worth exactly how much" is hash-checked
    // CTE-for-CTE. ModularitySpec pins each reported Δ against a full
    // communityStats recompute of the single-node move; the
    // synchronous caveat (gains exact holding others fixed) is the
    // operator's stated contract.
    Q("q239_modularity_move",
      (s, d) => {
        val e = T.lineitem(s, d)
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("l_quantity") >= 40 &&
            col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"),
            col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val mem = T.nation(s, d).select(col("n_nationkey").as("node_id"),
          col("n_regionkey").as("community"))
        graft.operators.Modularity.greedyMoveRound(e, mem, Some("w"))
          .orderBy(col("node_id"))
      },
      Some("""WITH raw AS (
               SELECT c.c_nationkey AS x, su.s_nationkey AS y,
                 count(*) AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier su ON l.l_suppkey = su.s_suppkey
               WHERE l.l_quantity >= 40
                 AND c.c_nationkey <> su.s_nationkey
               GROUP BY 1, 2),
             e AS (SELECT least(x, y) AS s, greatest(x, y) AS d,
                 CAST(sum(w) AS BIGINT) AS w
               FROM raw GROUP BY 1, 2),
             wtot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM e),
             mem AS (SELECT n_nationkey AS node_id,
               CAST(n_regionkey AS VARCHAR) AS community FROM nation),
             sym AS (SELECT s AS i, d AS j, w FROM e
                     UNION ALL SELECT d, s, w FROM e),
             deg AS (SELECT i, CAST(sum(w) AS BIGINT) AS d_i
                     FROM sym GROUP BY i),
             wic AS (
               SELECT sym.i, m.community AS cj,
                 CAST(sum(w) AS BIGINT) AS w_ic
               FROM sym JOIN mem m ON sym.j = m.node_id GROUP BY 1, 2),
             sc AS (
               SELECT m.community, CAST(sum(deg.d_i) AS BIGINT) AS s_c
               FROM deg JOIN mem m ON deg.i = m.node_id GROUP BY 1),
             cand AS (
               SELECT w1.i, m.community AS a, w1.cj,
                 4 * wtot.wt * (w1.w_ic - coalesce(w2.w_ic, 0))
                   - 2 * deg.d_i * (sb.s_c - sa.s_c + deg.d_i) AS dq
               FROM wic w1
               JOIN mem m ON w1.i = m.node_id
               LEFT JOIN wic w2 ON w2.i = w1.i AND w2.cj = m.community
               JOIN deg ON deg.i = w1.i
               JOIN sc sb ON sb.community = w1.cj
               JOIN sc sa ON sa.community = m.community
               CROSS JOIN wtot
               WHERE w1.cj <> m.community),
             best AS (
               SELECT i, cj, dq FROM (
                 SELECT i, cj, dq, row_number() OVER (PARTITION BY i
                   ORDER BY dq DESC, cj) AS rn
                 FROM cand) WHERE rn = 1 AND dq > 0)
             SELECT CAST(m.node_id AS BIGINT) AS node_id,
               m.community AS comm_old,
               coalesce(b.cj, m.community) AS comm_new,
               CAST(coalesce(b.dq, 0) AS BIGINT) AS dq_num
             FROM mem m LEFT JOIN best b ON m.node_id = b.i
             ORDER BY m.node_id""")),

    // ---- TWO synchronized Louvain move rounds (q239's operator
    // COMPOSED: move → apply → move, the alternation an actual
    // community-detection run performs): round 1 defects from the
    // region partition, round 2 re-evaluates against the moved
    // memberships — second-round gains are computed on round 1's
    // landscape, so the ladder catches both the follow-the-leader
    // moves (a node chasing its neighbors into their new community)
    // and the re-stabilization (round-1 movers that now stay). The
    // oracle unrolls the whole thing CTE-for-CTE (MoveRoundSql — the
    // LpaSql discipline applied to the move recursion; sym/deg/wtot
    // are membership-independent and shared across rounds).
    Q("q240_louvain_two_rounds",
      (s, d) => {
        val e = T.lineitem(s, d)
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("l_quantity") >= 40 &&
            col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"),
            col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val mem0 = T.nation(s, d).select(col("n_nationkey").as("node_id"),
          col("n_regionkey").as("community"))
        // Pinned: round 2 reads mem1 in three branches (w(i,c), S_c,
        // the self/cand joins) plus the final join reads r1 — unpinned,
        // the whole round-1 plan would re-execute four-plus times.
        val r1 = graft.operators.CacheScope.pin(
          graft.operators.Modularity.greedyMoveRound(e, mem0, Some("w")))
        val mem1 = r1.select(col("node_id"),
          col("comm_new").as("community"))
        val r2 = graft.operators.Modularity.greedyMoveRound(e, mem1,
          Some("w"))
        r1.select(col("node_id"), col("comm_old").as("c0"),
            col("comm_new").as("c1"), col("dq_num").as("dq1"))
          .join(r2.select(col("node_id"), col("comm_new").as("c2"),
            col("dq_num").as("dq2")), Seq("node_id"))
          .orderBy(col("node_id"))
      },
      Some(MoveLadderSql(2))),

    // ---- FULL Louvain level step: move → COARSEN → move (Blondel et
    // al. 2008's two phases composed). Round 1 defects nations from
    // the region partition; phase 2 contracts the moved membership
    // into super-nodes (intra-community mass as SELF-LOOPS — weight
    // conserved exactly, ModularitySpec); the second move round runs
    // ON THE COARSE GRAPH under the self-loop algebra (self mass
    // travels with the node and cancels out of Δ; degree keeps its
    // 2w). Readout: one row per super-node with its self-loop mass
    // and its coarse-level move — the oracle unrolls move + coarsen +
    // self-loop move CTE-for-CTE (CoarsenLadderSql).
    Q("q241_louvain_coarsen",
      (s, d) => {
        val e = T.lineitem(s, d)
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("l_quantity") >= 40 &&
            col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"),
            col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val mem0 = T.nation(s, d).select(col("n_nationkey").as("node_id"),
          col("n_regionkey").as("community"))
        val mem1 = graft.operators.Modularity
          .greedyMoveRound(e, mem0, Some("w"))
          .select(col("node_id"), col("comm_new").as("community"))
        // Pinned: the coarse edge list is read by the self-loop readout
        // AND the coarse move round (whose canon merge reads it once
        // more) — unpinned, the whole fine round would re-execute.
        val coarse = graft.operators.CacheScope.pin(
          graft.operators.Modularity.coarsen(e, mem1, Some("w")))
        val cmem = coarse
          .select(col("src").as("c")).union(coarse.select(col("dst")))
          .distinct()
          .select(col("c").cast("long").as("node_id"),
            col("c").as("community"))
        val r2 = graft.operators.Modularity
          .greedyMoveRound(coarse, cmem, Some("w"), selfLoops = true)
        val selfw = coarse.filter(col("src") === col("dst"))
          .select(col("src").cast("long").as("node_id"),
            col("w").as("self_w"))
        r2.join(selfw, Seq("node_id"), "left")
          .select(col("node_id").as("cnode"),
            coalesce(col("self_w"), lit(0L)).as("self_w"),
            col("comm_new"), col("dq_num"))
          .orderBy(col("cnode"))
      },
      Some(CoarsenLadderSql)),

    // ---- The FULL multi-level Louvain run (Blondel et al. 2008 —
    // q239's move phase and q241's coarsening COMPOSED into the actual
    // algorithm): per level, singleton init → the SEMI-SYNCHRONOUS
    // move phase (two greedyMoveRound sub-rounds, even node ids apply
    // first, then odd against the updated membership — the parity
    // discipline that breaks the pair-swap deadlock a single
    // synchronous round hits) → contract; the readout is the FINE
    // membership composed through all levels. minGain = Long.MinValue
    // forces exactly 3 levels (converged levels are identity maps, so
    // both engines agree), which puts the whole ladder under the hash
    // oracle: LouvainSql(3) unrolls three complete levels CTE-for-CTE
    // — per-level singleton membership, both masked sub-rounds' re-
    // derived w(i,c)/S_c, the self-loop degree algebra (2w per
    // self-loop in deg, self mass excluded from w(i,c), kept in W),
    // the exact integer Δ window, the varchar-then-bigint double
    // canonicalization of each contraction, and the composed-
    // membership join chain. ModularitySpec pins the early-stop
    // production face (minGain = 0): Q monotone per accepted level,
    // composed fine membership scores == final coarse scorecard.
    Q("q246_louvain_full",
      (s, d) => {
        val e = T.lineitem(s, d)
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(T.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .filter(col("l_quantity") >= 40 &&
            col("c_nationkey") =!= col("s_nationkey"))
          .groupBy(col("c_nationkey").as("src"),
            col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val (membership, _) = graft.operators.Modularity.louvain(
          e, Some("w"), maxLevels = 3, minGain = Long.MinValue)
        membership.orderBy(col("node_id"))
      },
      Some(LouvainSql(3)))
  )

  /** q240 oracle: the greedy-move recursion unrolled — per round a
    * membership-tagged w(i,c) CTE, a community-degree CTE, the exact
    * integer gain candidates, the (dq desc, community asc) best window,
    * and the applied membership feeding the next round. sym/deg/wtot
    * are membership-independent and appear once. */
  private def MoveLadderSql(rounds: Int): String = {
    val head = """WITH raw AS (
        SELECT c.c_nationkey AS x, su.s_nationkey AS y, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier su ON l.l_suppkey = su.s_suppkey
        WHERE l.l_quantity >= 40 AND c.c_nationkey <> su.s_nationkey
        GROUP BY 1, 2),
      e AS (SELECT least(x, y) AS s, greatest(x, y) AS d,
          CAST(sum(w) AS BIGINT) AS w
        FROM raw GROUP BY 1, 2),
      wtot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM e),
      sym AS (SELECT s AS i, d AS j, w FROM e
              UNION ALL SELECT d, s, w FROM e),
      deg AS (SELECT i, CAST(sum(w) AS BIGINT) AS d_i FROM sym GROUP BY i),
      mem0 AS (SELECT n_nationkey AS node_id,
        CAST(n_regionkey AS VARCHAR) AS community FROM nation)"""
    val iterCtes = (0 until rounds).map { r =>
      s"""wic$r AS (
           SELECT sym.i, m.community AS cj, CAST(sum(w) AS BIGINT) AS w_ic
           FROM sym JOIN mem$r m ON sym.j = m.node_id GROUP BY 1, 2),
         sc$r AS (
           SELECT m.community, CAST(sum(deg.d_i) AS BIGINT) AS s_c
           FROM deg JOIN mem$r m ON deg.i = m.node_id GROUP BY 1),
         cand$r AS (
           SELECT w1.i, m.community AS a, w1.cj,
             4 * wtot.wt * (w1.w_ic - coalesce(w2.w_ic, 0))
               - 2 * deg.d_i * (sb.s_c - sa.s_c + deg.d_i) AS dq
           FROM wic$r w1
           JOIN mem$r m ON w1.i = m.node_id
           LEFT JOIN wic$r w2 ON w2.i = w1.i AND w2.cj = m.community
           JOIN deg ON deg.i = w1.i
           JOIN sc$r sb ON sb.community = w1.cj
           JOIN sc$r sa ON sa.community = m.community
           CROSS JOIN wtot
           WHERE w1.cj <> m.community),
         best$r AS (
           SELECT i, cj, dq FROM (
             SELECT i, cj, dq, row_number() OVER (PARTITION BY i
               ORDER BY dq DESC, cj) AS rn FROM cand$r)
           WHERE rn = 1 AND dq > 0),
         move$r AS (
           SELECT m.node_id, m.community AS c_old,
             coalesce(b.cj, m.community) AS c_new,
             CAST(coalesce(b.dq, 0) AS BIGINT) AS dq
           FROM mem$r m LEFT JOIN best$r b ON m.node_id = b.i),
         mem${r + 1} AS (SELECT node_id, c_new AS community FROM move$r)"""
    }.mkString(",\n")
    s"""$head,
      $iterCtes
      SELECT CAST(m0.node_id AS BIGINT) AS node_id, m0.c_old AS c0,
        m0.c_new AS c1, m1.c_new AS c2,
        m0.dq AS dq1, m1.dq AS dq2
      FROM move0 m0 JOIN move${rounds - 1} m1 USING (node_id)
      ORDER BY node_id"""
  }

  /** q241 oracle: one fine move round (MoveLadderSql's round-0 CTEs),
    * then the COARSENING (community-pair group-by; least/greatest over
    * the VARCHAR labels exactly as the operator canonicalizes), then a
    * move round ON the coarse graph under the self-loop algebra:
    * degree adds 2w per self-loop, w(i,c) excludes self mass, W keeps
    * it — the same exact-integer Δ formula. */
  private def CoarsenLadderSql: String = {
    val head = """WITH raw AS (
        SELECT c.c_nationkey AS x, su.s_nationkey AS y, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier su ON l.l_suppkey = su.s_suppkey
        WHERE l.l_quantity >= 40 AND c.c_nationkey <> su.s_nationkey
        GROUP BY 1, 2),
      e AS (SELECT least(x, y) AS s, greatest(x, y) AS d,
          CAST(sum(w) AS BIGINT) AS w
        FROM raw GROUP BY 1, 2),
      wtot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM e),
      sym AS (SELECT s AS i, d AS j, w FROM e
              UNION ALL SELECT d, s, w FROM e),
      deg AS (SELECT i, CAST(sum(w) AS BIGINT) AS d_i FROM sym GROUP BY i),
      mem0 AS (SELECT n_nationkey AS node_id,
        CAST(n_regionkey AS VARCHAR) AS community FROM nation),
      wic0 AS (
        SELECT sym.i, m.community AS cj, CAST(sum(w) AS BIGINT) AS w_ic
        FROM sym JOIN mem0 m ON sym.j = m.node_id GROUP BY 1, 2),
      sc0 AS (
        SELECT m.community, CAST(sum(deg.d_i) AS BIGINT) AS s_c
        FROM deg JOIN mem0 m ON deg.i = m.node_id GROUP BY 1),
      cand0 AS (
        SELECT w1.i, m.community AS a, w1.cj,
          4 * wtot.wt * (w1.w_ic - coalesce(w2.w_ic, 0))
            - 2 * deg.d_i * (sb.s_c - sa.s_c + deg.d_i) AS dq
        FROM wic0 w1
        JOIN mem0 m ON w1.i = m.node_id
        LEFT JOIN wic0 w2 ON w2.i = w1.i AND w2.cj = m.community
        JOIN deg ON deg.i = w1.i
        JOIN sc0 sb ON sb.community = w1.cj
        JOIN sc0 sa ON sa.community = m.community
        CROSS JOIN wtot
        WHERE w1.cj <> m.community),
      best0 AS (
        SELECT i, cj, dq FROM (
          SELECT i, cj, dq, row_number() OVER (PARTITION BY i
            ORDER BY dq DESC, cj) AS rn FROM cand0)
        WHERE rn = 1 AND dq > 0),
      mem1 AS (
        SELECT m.node_id, coalesce(b.cj, m.community) AS community
        FROM mem0 m LEFT JOIN best0 b ON m.node_id = b.i)"""
    val coarse = """ce AS (
        SELECT least(ma.community, mb.community) AS s,
          greatest(ma.community, mb.community) AS d,
          CAST(sum(e.w) AS BIGINT) AS w
        FROM e JOIN mem1 ma ON e.s = ma.node_id
               JOIN mem1 mb ON e.d = mb.node_id
        GROUP BY 1, 2),
      cc AS (
        SELECT least(CAST(s AS BIGINT), CAST(d AS BIGINT)) AS s,
          greatest(CAST(s AS BIGINT), CAST(d AS BIGINT)) AS d,
          CAST(sum(w) AS BIGINT) AS w
        FROM ce GROUP BY 1, 2),
      cmem AS (
        SELECT DISTINCT CAST(c AS BIGINT) AS node_id, c AS community
        FROM (SELECT s AS c FROM ce UNION SELECT d FROM ce)),
      cwtot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM cc),
      cns AS (SELECT s, d, w FROM cc WHERE s <> d),
      csym AS (SELECT s AS i, d AS j, w FROM cns
               UNION ALL SELECT d, s, w FROM cns),
      cdeg AS (
        SELECT i, CAST(sum(w) AS BIGINT) AS d_i FROM (
          SELECT i, w FROM csym
          UNION ALL SELECT s AS i, 2 * w AS w FROM cc WHERE s = d)
        GROUP BY i),
      cwic AS (
        SELECT csym.i, m.community AS cj, CAST(sum(w) AS BIGINT) AS w_ic
        FROM csym JOIN cmem m ON csym.j = m.node_id GROUP BY 1, 2),
      csc AS (
        SELECT m.community, CAST(sum(cdeg.d_i) AS BIGINT) AS s_c
        FROM cdeg JOIN cmem m ON cdeg.i = m.node_id GROUP BY 1),
      ccand AS (
        SELECT w1.i, m.community AS a, w1.cj,
          4 * cwtot.wt * (w1.w_ic - coalesce(w2.w_ic, 0))
            - 2 * cdeg.d_i * (sb.s_c - sa.s_c + cdeg.d_i) AS dq
        FROM cwic w1
        JOIN cmem m ON w1.i = m.node_id
        LEFT JOIN cwic w2 ON w2.i = w1.i AND w2.cj = m.community
        JOIN cdeg ON cdeg.i = w1.i
        JOIN csc sb ON sb.community = w1.cj
        JOIN csc sa ON sa.community = m.community
        CROSS JOIN cwtot
        WHERE w1.cj <> m.community),
      cbest AS (
        SELECT i, cj, dq FROM (
          SELECT i, cj, dq, row_number() OVER (PARTITION BY i
            ORDER BY dq DESC, cj) AS rn FROM ccand)
        WHERE rn = 1 AND dq > 0),
      cmove AS (
        SELECT m.node_id, coalesce(b.cj, m.community) AS comm_new,
          CAST(coalesce(b.dq, 0) AS BIGINT) AS dq_num
        FROM cmem m LEFT JOIN cbest b ON m.node_id = b.i),
      selfw AS (SELECT s AS cnode, w AS self_w FROM cc WHERE s = d)"""
    s"""$head,
      $coarse
      SELECT m.node_id AS cnode,
        CAST(coalesce(sw.self_w, 0) AS BIGINT) AS self_w,
        m.comm_new, m.dq_num
      FROM cmove m LEFT JOIN selfw sw ON m.node_id = sw.cnode
      ORDER BY cnode"""
  }

  /** q246 oracle: `levels` complete Louvain levels unrolled — per level
    * a singleton membership over the current graph, TWO masked
    * sub-rounds (the driver's semi-synchronous parity discipline:
    * sub-round p re-derives w(i,c)/S_c from the current membership and
    * applies only node_id % 2 = p) under the self-loop algebra (deg
    * adds 2w per self-loop, w(i,c) excludes self mass, W keeps it —
    * uniform across levels; level 0 simply has no self rows), the
    * membership-composition join, and the contraction's double
    * canonicalization (varchar least/greatest over labels, then the
    * bigint re-merge — exactly the operator's coarsen → canonEdges
    * sequence). Forced levels (minGain = Long.MinValue on the Scala
    * side) make the unroll exact: a converged level's sub-rounds are
    * identity maps on both engines.
    * Every per-level CTE is MATERIALIZED: DuckDB 1.0 INLINES plain CTEs
    * per reference, and with ~8 references per level chained across 3
    * levels the inlining of the base join is exponential — the plain
    * form never finished planning at sf0.01. */
  private def LouvainSql(levels: Int): String = {
    val head = """WITH raw AS MATERIALIZED (
        SELECT c.c_nationkey AS x, su.s_nationkey AS y, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier su ON l.l_suppkey = su.s_suppkey
        WHERE l.l_quantity >= 40 AND c.c_nationkey <> su.s_nationkey
        GROUP BY 1, 2),
      g0 AS MATERIALIZED (SELECT least(x, y) AS s, greatest(x, y) AS d,
          CAST(sum(w) AS BIGINT) AS w
        FROM raw GROUP BY 1, 2)"""
    val levelCtes = (0 until levels).map { l =>
      // Two semi-synchronous sub-rounds per level (the driver's parity
      // discipline): sub-round p re-derives w(i,c)/S_c from the CURRENT
      // membership and applies only the nodes with node_id % 2 = p.
      val subRounds = (0 to 1).map { p =>
        s"""wic${l}_$p AS MATERIALIZED (
             SELECT sym$l.i, m.community AS cj,
               CAST(sum(w) AS BIGINT) AS w_ic
             FROM sym$l JOIN mem${l}_$p m ON sym$l.j = m.node_id
             GROUP BY 1, 2),
           sc${l}_$p AS MATERIALIZED (
             SELECT m.community, CAST(sum(deg$l.d_i) AS BIGINT) AS s_c
             FROM deg$l JOIN mem${l}_$p m ON deg$l.i = m.node_id
             GROUP BY 1),
           cand${l}_$p AS MATERIALIZED (
             SELECT w1.i, m.community AS a, w1.cj,
               4 * wtot$l.wt * (w1.w_ic - coalesce(w2.w_ic, 0))
                 - 2 * deg$l.d_i * (sb.s_c - sa.s_c + deg$l.d_i) AS dq
             FROM wic${l}_$p w1
             JOIN mem${l}_$p m ON w1.i = m.node_id
             LEFT JOIN wic${l}_$p w2 ON w2.i = w1.i AND w2.cj = m.community
             JOIN deg$l ON deg$l.i = w1.i
             JOIN sc${l}_$p sb ON sb.community = w1.cj
             JOIN sc${l}_$p sa ON sa.community = m.community
             CROSS JOIN wtot$l
             WHERE w1.cj <> m.community),
           best${l}_$p AS MATERIALIZED (
             SELECT i, cj, dq FROM (
               SELECT i, cj, dq, row_number() OVER (PARTITION BY i
                 ORDER BY dq DESC, cj) AS rn FROM cand${l}_$p)
             WHERE rn = 1 AND dq > 0),
           mem${l}_${p + 1} AS MATERIALIZED (
             SELECT m.node_id,
               CASE WHEN m.node_id % 2 = $p
                 THEN coalesce(b.cj, m.community)
                 ELSE m.community END AS community
             FROM mem${l}_$p m LEFT JOIN best${l}_$p b
               ON m.node_id = b.i)"""
      }.mkString(",\n")
      val comp =
        if (l == 0)
          s"""comp1 AS MATERIALIZED (
               SELECT node_id, community FROM mem0_2)"""
        else
          s"""comp${l + 1} AS MATERIALIZED (
               SELECT c.node_id, mv.community
               FROM comp$l c JOIN mem${l}_2 mv
                 ON c.community = CAST(mv.node_id AS VARCHAR))"""
      s"""n$l AS MATERIALIZED (
           SELECT DISTINCT i AS node_id FROM (
             SELECT s AS i FROM g$l UNION SELECT d FROM g$l)),
         mem${l}_0 AS MATERIALIZED (
           SELECT node_id, CAST(node_id AS VARCHAR) AS community
           FROM n$l),
         wtot$l AS MATERIALIZED (
           SELECT CAST(sum(w) AS BIGINT) AS wt FROM g$l),
         ns$l AS MATERIALIZED (SELECT s, d, w FROM g$l WHERE s <> d),
         sym$l AS MATERIALIZED (SELECT s AS i, d AS j, w FROM ns$l
                   UNION ALL SELECT d, s, w FROM ns$l),
         deg$l AS MATERIALIZED (
           SELECT i, CAST(sum(w) AS BIGINT) AS d_i FROM (
             SELECT i, w FROM sym$l
             UNION ALL SELECT s AS i, 2 * w AS w FROM g$l WHERE s = d)
           GROUP BY i),
         $subRounds,
         $comp,
         ce$l AS MATERIALIZED (
           SELECT least(ma.community, mb.community) AS s,
             greatest(ma.community, mb.community) AS d,
             CAST(sum(g.w) AS BIGINT) AS w
           FROM g$l g JOIN mem${l}_2 ma ON g.s = ma.node_id
                      JOIN mem${l}_2 mb ON g.d = mb.node_id
           GROUP BY 1, 2),
         g${l + 1} AS MATERIALIZED (
           SELECT least(CAST(s AS BIGINT), CAST(d AS BIGINT)) AS s,
             greatest(CAST(s AS BIGINT), CAST(d AS BIGINT)) AS d,
             CAST(sum(w) AS BIGINT) AS w
           FROM ce$l GROUP BY 1, 2)"""
    }.mkString(",\n")
    s"""$head,
      $levelCtes
      SELECT CAST(node_id AS BIGINT) AS node_id, community
      FROM comp$levels
      ORDER BY node_id"""
  }

  /** q199 oracle: the b-suitor rounds unrolled with explicit capacity
    * CTEs — per round two rank windows over the live pool, the
    * double-rank acceptance, two capacity decrements, a pool shrink. */
  private def CapMatchingSql(rounds: Int): String = {
    val head = """WITH p0 AS (
        SELECT c_custkey AS a, s_suppkey AS b,
          -abs(CAST(round(c_acctbal * 100) AS BIGINT)
               - CAST(round(s_acctbal * 100) AS BIGINT)) AS s
        FROM customer JOIN supplier ON c_nationkey = s_nationkey),
      ca0 AS (SELECT c_custkey AS a, CAST(1 AS BIGINT) AS cap_a
              FROM customer),
      cb0 AS (SELECT s_suppkey AS b, CAST(3 AS BIGINT) AS cap_b
              FROM supplier)"""
    val iterCtes = (1 to rounds).map { i =>
      val p = i - 1
      s"""rk$i AS (
           SELECT p.a, p.b, p.s, ca.cap_a, cb.cap_b,
             row_number() OVER (PARTITION BY p.a
               ORDER BY p.s DESC, p.b) AS rna,
             row_number() OVER (PARTITION BY p.b
               ORDER BY p.s DESC, p.a) AS rnb
           FROM p$p p JOIN ca$p ca ON p.a = ca.a
           JOIN cb$p cb ON p.b = cb.b
           WHERE ca.cap_a > 0 AND cb.cap_b > 0),
         m$i AS (
           SELECT a, b, s FROM rk$i
           WHERE rna <= cap_a AND rnb <= cap_b),
         ca$i AS (
           SELECT c.a, c.cap_a - coalesce(u.used, 0) AS cap_a
           FROM ca$p c LEFT JOIN (
             SELECT a, count(*) AS used FROM m$i GROUP BY a) u
           ON c.a = u.a),
         cb$i AS (
           SELECT c.b, c.cap_b - coalesce(u.used, 0) AS cap_b
           FROM cb$p c LEFT JOIN (
             SELECT b, count(*) AS used FROM m$i GROUP BY b) u
           ON c.b = u.b),
         p$i AS (
           SELECT p.* FROM p$p p
           WHERE NOT EXISTS (SELECT 1 FROM m$i m
             WHERE m.a = p.a AND m.b = p.b))"""
    }.mkString(",\n")
    val union = (1 to rounds).map(i =>
      s"SELECT a, b, s, $i AS round FROM m$i").mkString(" UNION ALL ")
    s"""$head,
      $iterCtes
      SELECT a, b, CAST(s AS BIGINT) AS score, CAST(round AS INT) AS round
      FROM ($union) ORDER BY round, a"""
  }

  /** q183 oracle: PageRankSql with the teleport restricted to the seed
    * set — seed-indicator CASE on both the base share and the dangling
    * share, |S| instead of N in the divisor. */
  private def PersonalizedPageRankSql(iters: Int): String = {
    val head = """WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT cust AS src, supp AS dst FROM pairs
        UNION ALL SELECT supp, cust FROM pairs),
      deg AS (SELECT src AS dnode, count(*) AS outdeg FROM edges GROUP BY src),
      nodes AS (SELECT src AS node_id FROM edges
                UNION SELECT dst FROM edges),
      seeds AS (SELECT DISTINCT cust AS node_id FROM pairs WHERE cust <= 30),
      sv AS (SELECT count(*) AS n_t FROM seeds),
      r0 AS (SELECT n.node_id,
               CAST(CASE WHEN s.node_id IS NOT NULL
                 THEN 1000000000 ELSE 0 END AS BIGINT) AS pr
             FROM nodes n LEFT JOIN seeds s ON n.node_id = s.node_id)"""
    val iterCtes = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT CAST(coalesce(sum(r.pr), 0) AS BIGINT) AS dmass
           FROM r$p r LEFT JOIN deg ON r.node_id = deg.dnode
           WHERE deg.dnode IS NULL),
         c$i AS (SELECT e.dst AS node_id,
             CAST(sum(r.pr // d.outdeg) AS BIGINT) AS inflow
           FROM edges e
           JOIN r$p r ON e.src = r.node_id
           JOIN deg d ON e.src = d.dnode
           GROUP BY e.dst),
         r$i AS (SELECT n.node_id,
             CAST(CASE WHEN s.node_id IS NOT NULL
                 THEN 15000000000 // 100 ELSE 0 END
               + (85 * (coalesce(c.inflow, 0)
                  + CASE WHEN s.node_id IS NOT NULL
                    THEN (SELECT dmass FROM d$i) // (SELECT n_t FROM sv)
                    ELSE 0 END)) // 100
               AS BIGINT) AS pr
           FROM nodes n
           LEFT JOIN c$i c ON n.node_id = c.node_id
           LEFT JOIN seeds s ON n.node_id = s.node_id)"""
    }.mkString(",\n")
    s"""$head,
      $iterCtes
      SELECT node_id, pr FROM r$iters ORDER BY pr DESC, node_id LIMIT 20"""
  }

  /** q180 oracle: the locally-dominant rounds unrolled — per round a
    * left-best and right-best row_number CTE (score desc, partner asc —
    * the P total order), their equi-join, and a pool shrink. */
  private def MatchingSql(rounds: Int): String = {
    val head = """WITH p0 AS (
        SELECT c_custkey AS a, s_suppkey AS b,
          -abs(CAST(round(c_acctbal * 100) AS BIGINT)
               - CAST(round(s_acctbal * 100) AS BIGINT)) AS s
        FROM customer JOIN supplier ON c_nationkey = s_nationkey)"""
    val iterCtes = (1 to rounds).map { i =>
      val p = i - 1
      s"""ba$i AS (SELECT a, b, s FROM (
             SELECT a, b, s, row_number() OVER (
               PARTITION BY a ORDER BY s DESC, b) AS rn FROM p$p)
           WHERE rn = 1),
         bb$i AS (SELECT a, b, s FROM (
             SELECT a, b, s, row_number() OVER (
               PARTITION BY b ORDER BY s DESC, a) AS rn FROM p$p)
           WHERE rn = 1),
         m$i AS (SELECT a, b, s FROM ba$i JOIN bb$i USING (a, b, s)),
         p$i AS (SELECT * FROM p$p
           WHERE a NOT IN (SELECT a FROM m$i)
             AND b NOT IN (SELECT b FROM m$i))"""
    }.mkString(",\n")
    val union = (1 to rounds).map(i =>
      s"SELECT a, b, s, $i AS round FROM m$i").mkString(" UNION ALL ")
    s"""$head,
      $iterCtes
      SELECT a, b, CAST(s AS BIGINT) AS score, CAST(round AS INT) AS round
      FROM ($union) ORDER BY round, a"""
  }

  /** q157 oracle: the relaxation unrolled — per round a min-candidate
    * CTE and a full-outer reconcile CTE (least over coalesced sides,
    * mirroring the operator's null handling exactly). */
  private def BellmanSql(rounds: Int): String = {
    val head = """WITH trip AS (
        SELECT DISTINCT o_custkey AS cust,
          l_suppkey + 1000000000 AS supp, o_orderkey AS ok
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      wt AS (
        SELECT cust, supp, 1000 // count(*) AS w
        FROM trip GROUP BY cust, supp),
      edges AS (
        SELECT cust AS src, supp AS dst, w FROM wt
        UNION ALL SELECT supp, cust, w FROM wt),
      d0 AS (
        SELECT DISTINCT o_custkey AS node_id, CAST(0 AS BIGINT) AS dist
        FROM orders WHERE o_custkey <= 5)"""
    val iterCtes = (1 to rounds).map { i =>
      val p = i - 1
      s"""c$i AS (
           SELECT e.dst AS node_id,
             CAST(min(d.dist + e.w) AS BIGINT) AS nd
           FROM edges e JOIN d$p d ON e.src = d.node_id
           GROUP BY e.dst),
         d$i AS (
           SELECT coalesce(d.node_id, c.node_id) AS node_id,
             least(coalesce(d.dist, c.nd), coalesce(c.nd, d.dist))
               AS dist
           FROM d$p d FULL OUTER JOIN c$i c ON d.node_id = c.node_id)"""
    }.mkString(",\n")
    s"""$head,
      $iterCtes
      SELECT node_id, dist FROM d$rounds ORDER BY node_id"""
  }

  /** q156 oracle: the k-core peel unrolled — per round a surviving-edge
    * CTE, a degree CTE, and a survivor CTE; `converged` mirrors the
    * operator's "no node removed in the final round" as a count compare
    * of the last two survivor sets. */
  private def KCoreSql(k: Int, rounds: Int): String = {
    val head = """WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT cust AS src, supp AS dst FROM pairs
        UNION ALL SELECT supp, cust FROM pairs),
      s0 AS (SELECT DISTINCT src AS node_id FROM edges)"""
    val iterCtes = (1 to rounds).map { i =>
      val p = i - 1
      s"""d$i AS (
           SELECT e.src AS node_id, CAST(count(*) AS BIGINT) AS deg
           FROM edges e
           JOIN s$p a ON e.src = a.node_id
           JOIN s$p b ON e.dst = b.node_id
           GROUP BY e.src),
         s$i AS (SELECT node_id, deg FROM d$i WHERE deg >= $k)"""
    }.mkString(",\n")
    val p = rounds - 1
    s"""$head,
      $iterCtes
      SELECT node_id, deg,
        (SELECT count(*) FROM s$rounds) =
          (SELECT count(*) FROM s$p) AS converged
      FROM s$rounds ORDER BY node_id"""
  }

  /** q138 oracle: the BFS frontier recursion unrolled — per hop a
    * frontier CTE (expand ∖ visited) and an accumulate CTE. An empty
    * frontier contributes no rows, so the fixed unroll equals the
    * operator's early-exit loop. */
  private def BfsCtes(maxHops: Int): String = {
    val head = """WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT cust AS src, supp AS dst FROM pairs
        UNION ALL SELECT supp, cust FROM pairs),
      d0 AS (
        SELECT DISTINCT o_custkey AS node_id, 0 AS hops
        FROM orders WHERE o_custkey <= 5)"""
    val iterCtes = (1 to maxHops).map { i =>
      val p = i - 1
      s"""f$i AS (
           SELECT DISTINCT e.dst AS node_id
           FROM edges e JOIN d$p ON e.src = d$p.node_id AND d$p.hops = $p
           WHERE e.dst NOT IN (SELECT node_id FROM d$p)),
         d$i AS (
           SELECT node_id, hops FROM d$p
           UNION ALL SELECT node_id, $i AS hops FROM f$i)"""
    }.mkString(",\n")
    s"""$head,
      $iterCtes"""
  }

  private def BfsSql(maxHops: Int): String =
    s"""${BfsCtes(maxHops)}
      SELECT node_id, hops FROM d$maxHops ORDER BY node_id"""

  /** q188 oracle: the q138 frontier CTEs rolled up per hop — node count
    * and the exact micro-unit harmonic mass (10⁶ div hops). */
  private def ReachProfileSql(maxHops: Int): String =
    s"""${BfsCtes(maxHops)}
      SELECT hops, CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(CASE WHEN hops > 0 THEN 1000000 // hops ELSE 0 END)
          AS BIGINT) AS harmonic_u
      FROM d$maxHops GROUP BY hops ORDER BY hops"""

  /** q123 oracle: the LPA recursion unrolled — per round a neighbor-
    * label count CTE and a row_number argmax CTE (ORDER BY cnt DESC,
    * label — the min-label tie-break), isolated nodes kept by the left
    * join. The q94/q104/q117 unrolling discipline. */
  private def LpaCtes(iters: Int, weighted: Boolean = false): String = {
    val head =
      if (!weighted) """WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT DISTINCT src, dst, 1 AS w FROM (
          SELECT cust AS src, supp AS dst FROM pairs
          UNION ALL SELECT supp, cust FROM pairs)),
      l0 AS (SELECT DISTINCT src AS node_id, src AS label FROM edges)"""
      else """WITH pairs AS (
        SELECT o_custkey AS cust, l_suppkey + 1000000000 AS supp,
          count(*) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2),
      edges AS (
        SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
          SELECT cust AS src, supp AS dst, w FROM pairs
          UNION ALL SELECT supp, cust, w FROM pairs)
        GROUP BY 1, 2),
      l0 AS (SELECT DISTINCT src AS node_id, src AS label FROM edges)"""
    val iterCtes = (1 to iters).map { i =>
      val p = i - 1
      s"""c$i AS (
           SELECT e.dst, l.label, CAST(sum(e.w) AS BIGINT) AS cnt
           FROM edges e JOIN l$p l ON e.src = l.node_id
           GROUP BY e.dst, l.label),
         w$i AS (
           SELECT dst AS node_id, label AS new_label FROM (
             SELECT dst, label,
               row_number() OVER (PARTITION BY dst
                 ORDER BY cnt DESC, label) AS rn
             FROM c$i) WHERE rn = 1),
         l$i AS (
           SELECT l.node_id, coalesce(w.new_label, l.label) AS label
           FROM l$p l LEFT JOIN w$i w USING (node_id))"""
    }.mkString(",\n")
    s"""$head,
      $iterCtes"""
  }

  /** Full LPA frame incl. the converged flag: a synchronous-LPA fixed
    * point persists, so "some round changed nothing" ⟺ the last two
    * label frames are identical — one FILTERed join mirrors the
    * operator's early-exit flag exactly (iters ≥ 1). */
  private def LpaSql(iters: Int, weighted: Boolean = false): String =
    s"""${LpaCtes(iters, weighted)},
      conv AS (
        SELECT count(*) FILTER (WHERE a.label <> b.label) = 0 AS converged
        FROM l$iters a JOIN l${iters - 1} b ON a.node_id = b.node_id)
      SELECT node_id, label, converged
      FROM l$iters CROSS JOIN conv ORDER BY node_id"""

  /** q104 oracle: the Lloyd recursion unrolled — per iteration an
    * assignment CTE (argmin |v−c| with ties to the lower centroid index,
    * via a (doc, centroid) cross join + row_number) and an update CTE
    * (floor-divided means, empty clusters keeping their centroid). All
    * BIGINT; the final SELECT casts the cluster index to INTEGER to match
    * Spark's `transform` lambda index type. */
  private def KMeansSql(k: Int, iters: Int): String = {
    val head = s"""WITH v AS (
        SELECT row_number() OVER () AS rid, CAST(n_chars AS BIGINT) AS v
        FROM documents),
      mm AS (SELECT min(v) AS vmin, max(v) AS vmax FROM v),
      c0 AS (
        SELECT CAST(t.i AS INTEGER) AS i,
          vmin + (vmax - vmin) * t.i // ${k - 1} AS c
        FROM range($k) t(i) CROSS JOIN mm)"""
    val iterCtes = (1 to iters).map { j =>
      val p = j - 1
      s"""a$j AS (
           SELECT rid, v, i, c,
             row_number() OVER (PARTITION BY rid ORDER BY abs(v - c), i)
               AS rn
           FROM v CROSS JOIN c$p),
         s$j AS (
           SELECT i AS ci, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
           FROM a$j WHERE rn = 1 GROUP BY i),
         c$j AS (
           SELECT c$p.i,
             CASE WHEN s$j.n IS NOT NULL THEN sv // n ELSE c$p.c END AS c
           FROM c$p LEFT JOIN s$j ON c$p.i = s$j.ci)"""
    }.mkString(",\n")
    val f = iters + 1
    s"""$head,
      $iterCtes,
      a$f AS (
        SELECT rid, v, i, c,
          row_number() OVER (PARTITION BY rid ORDER BY abs(v - c), i) AS rn
        FROM v CROSS JOIN c$iters)
      SELECT i AS cluster, c AS centroid, count(*) AS n,
        CAST(sum(v) AS BIGINT) AS total
      FROM a$f WHERE rn = 1 GROUP BY i, c ORDER BY i"""
  }

  /** q94 oracle: the PageRank recursion unrolled — one (contrib, rank)
    * CTE pair per iteration, all arithmetic BIGINT floor division so the
    * values replicate Spark's `div` exactly. DuckDB sums of BIGINT return
    * HUGEINT (pandas-visible as float64), hence the CASTs on every sum. */
  private def PageRankSql(iters: Int): String = {
    val head = """WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT cust AS src, supp AS dst FROM pairs
        UNION ALL SELECT supp, cust FROM pairs),
      deg AS (SELECT src AS dnode, count(*) AS outdeg FROM edges GROUP BY src),
      nodes AS (SELECT src AS node_id FROM edges
                UNION SELECT dst FROM edges),
      nv AS (SELECT count(*) AS n_nodes FROM nodes),
      r0 AS (SELECT node_id, CAST(1000000000 AS BIGINT) AS pr FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT CAST(coalesce(sum(r.pr), 0) AS BIGINT) AS dmass
           FROM r$p r LEFT JOIN deg ON r.node_id = deg.dnode
           WHERE deg.dnode IS NULL),
         c$i AS (SELECT e.dst AS node_id,
             CAST(sum(r.pr // d.outdeg) AS BIGINT) AS inflow
           FROM edges e
           JOIN r$p r ON e.src = r.node_id
           JOIN deg d ON e.src = d.dnode
           GROUP BY e.dst),
         r$i AS (SELECT n.node_id,
             CAST(15000000000 // 100
               + (85 * (coalesce(c.inflow, 0)
                  + (SELECT dmass FROM d$i) // (SELECT n_nodes FROM nv))) // 100
               AS BIGINT) AS pr
           FROM nodes n LEFT JOIN c$i c ON n.node_id = c.node_id)"""
    }.mkString(",\n")
    s"""$head,
      $iterCtes
      SELECT node_id, pr FROM r$iters ORDER BY pr DESC, node_id LIMIT 20"""
  }
}
