package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.SweepOrder.{Family, Match}
import graft.operators._

/** Entity-matching operator family (SURVEY.md §2 J1/A1-A3/A6-A9/P1-P5/
  * A13/W2-W3) instantiated over the testdata star schema: an order is a
  * "document", the parts (and part+supplier combos) on its lineitems
  * are its "entities"; orders sharing entities become candidate match
  * pairs exactly as publications/proposals sharing persons/formulas/
  * codes do in the reference.
  */
object MatchingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** (doc_id, score_type, entity_id) from ONE lineitem scan: both
    * entity types, each tagged with the score type it feeds — the part,
    * and the (part, supplier) combo in its own id space. */
  private def matchEntities(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("doc_id"), explode(array(
        struct(lit("part_overlap").as("score_type"),
          col("l_partkey").as("entity_id")),
        struct(lit("partsupp_overlap").as("score_type"),
          (col("l_partkey") * 100000L + col("l_suppkey")).as("entity_id"))))
        .as("e"))
      .select("doc_id", "e.score_type", "e.entity_id")

  /** The candidate/score pipelines are quadratic (~9M pair rows at
    * sf0.1) and shared by most queries here; without reuse a full
    * Verify/Bench sweep recomputes the self-join shuffle ~8 times and
    * the accumulated shuffle files can exhaust local disk (the round-1
    * bench died exactly that way). Persisting the shared frame once per
    * (session, dir) is the idiomatic Spark answer — same thing a user
    * composing several queries over one match table would do.
    *
    * Both entity types as one plan (one lineitem scan, one self-join on
    * (score_type, entity_id)), partitioned by doc1 ALONE (round 17,
    * guide §2.4): HashPartitioning on a subset of downstream keys
    * satisfies every ClusteredDistribution that includes doc1 — so the
    * (doc1, doc2, score_type) roll-up below, the (doc1, doc2) pivot and
    * the weight-family rank windows over (grid point, doc1) all plan
    * with ZERO exchanges off this layout, which the roll-up and the
    * pivot keep. Only q13 reads it, so it opens the match cluster and
    * the sweep releases the biggest frame right after it. */
  private[graft] lazy val matchCands: Family[Unit] = Family[Unit](
      "matchCands", Match, Nil, Set("q13_entity_candidates"), Seq("doc1")) {
    (s, dir, _) =>
      EntityMatching.candidatePairs(matchEntities(s, dir), by = Seq("score_type"))
  }

  /** Per-pair scores of both entity types, `Schemas.matchScores`.
    * Invariant, which q44 relies on and EntityMatchingSpec checks:
    * (doc1, doc2, score_type) is unique and doc1 < doc2 on every row —
    * the roll-up groups on exactly those keys over candidates that
    * `candidatePairs` filters to doc1 < doc2.
    *
    * No repartition before caching: the roll-up groups by (doc1, doc2,
    * score_type) over the doc1-partitioned candidate cache, so it is
    * exchange-free and its output KEEPS the doc1 hash layout — an extra
    * repartition would re-shuffle every scored pair into the layout it
    * is in. */
  private[graft] lazy val matchScores: Family[Unit] = Family[Unit](
      "matchScores", Match, Seq(matchCands.prefix), Set("q14_entity_scores",
        "q15_type_filter", "q16_date_filter", "q17_multitype_filter",
        "q18_match_stats", "q19_score_pivot", "q43_total_score",
        "q44_pair_dedup", "q71_rank_eval", "q94_matcher_pipeline")) {
    (s, dir, _) => EntityMatching.scoreTypedPairs(matchCands(s, dir))
  }

  private def partScores(s: SparkSession, dir: String): DataFrame =
    matchScores(s, dir).filter(col("score_type") === "part_overlap")

  /** Pivoted per-pair scores (A13 shape), for q19 and the pairScores2
    * build: one row per pair, a type's missing score filled 0.0. Each
    * score type holds at most one row per (doc1, doc2), so
    * `max(when(type))` per pair is the pivot; the groupBy keys are a
    * superset of the doc1 layout of [[matchScores]], so it plans with
    * ZERO exchanges (and a plain codegen HashAggregate, where
    * `.pivot()` takes a non-spilling ObjectHashAggregate). Cheap enough
    * to recompute for its two readers, so it is not cached. */
  private def pivotedScores(s: SparkSession, dir: String): DataFrame = {
    def typed(t: String) = coalesce(
      max(when(col("score_type") === t, col("score"))), lit(0.0)).as(t)
    matchScores(s, dir).groupBy("doc1", "doc2")
      .agg(typed("part_overlap"), typed("partsupp_overlap"))
  }

  /** Weight-training input (q20/q72, and the base of the k=3/k=6
    * score tables): pairs matched by BOTH types — tiny (the
    * intersection of the two matchers). MEMOIZED as its own family
    * (round 16), so the training chains never hold the pair-score
    * table: the sweep releases [[matchScores]] after its last reader,
    * before the k-chains build from this frame. Every training-chain
    * query is a consumer, since each may build its chain's table from
    * it (small to hold). It keeps the doc1
    * layout of the exchange-free pivot, so every training
    * evaluation's rank window over (grid point, doc1) is exchange-free
    * (subset clustering), for q20/q72 and the k=3/k=6 tables derived
    * from this frame. */
  private[graft] lazy val weightPairScores: Family[Unit] = Family[Unit](
      "pairScores2", Match, Seq(matchScores.prefix),
      Set("q20_weight_grid", "q72_weight_refine") ++
        trainingChains.flatMap(_.queries)) { (s, dir, _) =>
    pivotedScores(s, dir)
      .filter(col("part_overlap") > 0.0 && col("partsupp_overlap") > 0.0)
      .select(col("doc1"), col("doc2"),
        col("part_overlap").as("s1"), col("partsupp_overlap").as("s2"))
  }

  /** Document-type dim: open orders play the PROPOSAL role. */
  private def docTypes(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey").as("doc_id"),
      when(col("o_orderstatus") === "O", lit("PROPOSAL"))
        .otherwise(lit("PUBLICATION")).as("doc_type"))

  private def docDates(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey").as("doc_id"), col("o_orderdate").as("doc_date"))

  // ---- queries -----------------------------------------------------

  /** J1/A1/A2: inverted-index candidate generation with TF, doc entity
    * counts and micro-quantized IDF. */
  def q13Candidates(s: SparkSession, dir: String): DataFrame =
    matchCands(s, dir).filter(col("score_type") === "part_overlap")
      .select("entity_id", "doc1", "doc2", "tf1", "tf2", "cnt1", "cnt2", "idf_micro")
      .orderBy("entity_id", "doc1", "doc2")

  /** A3: pair score roll-up with the reference's team factor. */
  def q14EntityScores(s: SparkSession, dir: String): DataFrame =
    partScores(s, dir).orderBy("doc1", "doc2")

  /** P1: type filter — keep PROPOSAL↔PUBLICATION pairs only. */
  def q15TypeFilter(s: SparkSession, dir: String): DataFrame =
    PairFilters.typeFilter(partScores(s, dir), docTypes(s, dir),
        t => t.startsWith("PROPOSAL"))
      .select("doc1", "doc2", "score", "doc_type_1", "doc_type_2")
      .orderBy("doc1", "doc2")

  /** P2: date filter — proposal year <= publication year. */
  def q16DateFilter(s: SparkSession, dir: String): DataFrame =
    PairFilters.dateFilter(partScores(s, dir), docDates(s, dir))
      .select(col("doc1"), col("doc2"), col("score"),
        year(col("doc_date_1")).as("year_1"), year(col("doc_date_2")).as("year_2"))
      .orderBy("doc1", "doc2")

  /** P5: multi-type filter over the union of both matchers. */
  def q17MultiTypeFilter(s: SparkSession, dir: String): DataFrame =
    PairFilters.multiTypeFilter(matchScores(s, dir),
        whitelist = Seq("partsupp_overlap"),
        knownTypes = Some(Seq("part_overlap", "partsupp_overlap")))
      .orderBy("doc1", "doc2")

  /** A7: per-document match statistics from exact integer moments. */
  def q18MatchStats(s: SparkSession, dir: String): DataFrame =
    MatchStats.perDocumentStats(partScores(s, dir))
      .orderBy("doc_id")

  /** A13: score-type pivot to one wide row per pair. */
  def q19ScorePivot(s: SparkSession, dir: String): DataFrame =
    pivotedScores(s, dir)
      .withColumnRenamed("part_overlap", "score_part")
      .withColumnRenamed("partsupp_overlap", "score_partsupp")
      .orderBy("doc1", "doc2")

  /** A9/W3/J7: weight-grid evaluation — one pass over the match table
    * for the whole grid. Labels are a deterministic synthetic rule. */
  /** The synthetic label rule as a COLUMN over the pair table (round
    * 17): the labels "frame" of q20/q72/q159/q160/q199/q200 is a
    * projection of the pair table itself, so attaching it as an
    * expression instead of a (doc1, doc2)-keyed left join removes one
    * join + one label broadcast from EVERY training evaluation pass —
    * identical rows (the join was 1:1 by construction, its na.fill
    * never fired). */
  private def withLabels(ps: DataFrame): DataFrame =
    ps.withColumn("accepted", (col("doc1") + col("doc2")) % 5 === 0)

  def q20WeightGrid(s: SparkSession, dir: String): DataFrame =
    WeightTraining.evaluateGridLabeled(withLabels(weightPairScores(s, dir)),
        WeightTraining.twoTypeGrid(s, steps = 5))
      .orderBy("weight_id")

  /** A8/W2 (reference `TotalStatisticStage.scala:58-132`): join the
    * per-type weight dim, contextual score = score normalized by the
    * per-(doc2, type) max capped at 100, total = weighted sum per pair.
    * Sums are micro-quantized so the distributed agg is exact. */
  def q43TotalScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scores = matchScores(s, dir)
    val wdf = Seq(("part_overlap", 0.7), ("partsupp_overlap", 0.3))
      .toDF("score_type", "weight")
    val wCtx = Window.partitionBy("doc2", "score_type")
    scores.join(broadcast(wdf), Seq("score_type"))
      .withColumn("ctx_max", max("score").over(wCtx))
      .withColumn("w_micro",
        round(col("score") * col("weight") * 1e6).cast("long"))
      .withColumn("ctx_micro", least(
        round(col("score") / col("ctx_max") * 100.0 * 1e6).cast("long"),
        lit(100000000L)))
      .groupBy("doc1", "doc2")
      .agg(
        count(lit(1)).as("n_types"),
        sum("w_micro").as("total_micro"),
        sum("ctx_micro").as("ctx_micro_sum"))
      .select(col("doc1"), col("doc2"), col("n_types"),
        (col("total_micro") / 1e6).as("total_score"),
        (col("ctx_micro_sum") / 1e6).as("ctx_score"))
      .orderBy("doc1", "doc2")
  }

  /** A6 (reference `MatchCandidatePersisterStage.scala:52-62`): collapse
    * (dv1,dv2)/(dv2,dv1) duplicate directions. The reference used
    * nondeterministic `first()`; canonical (least, greatest) keys +
    * min/max/sum aggregates make the result hash-stable (SURVEY §7.4-2),
    * and the oracle still spells it that way: the score rows unioned
    * with their mirror, grouped on (least, greatest, type). Over
    * [[matchScores]] that group is exactly one row's two directions
    * (its (doc1, doc2, score_type) is unique and doc1 < doc2), so the
    * collapse is a projection: pair_lo = doc1, pair_hi = doc2, two
    * directions, twice the items, the same score. */
  def q44PairDedup(s: SparkSession, dir: String): DataFrame =
    partScores(s, dir)
      .select(col("doc1").as("pair_lo"), col("doc2").as("pair_hi"),
        col("score_type"), lit(2L).as("n_directions"),
        (col("item_count") * 2L).as("total_items"), col("score"))
      .orderBy("pair_lo", "pair_hi")

  /** Flagship pipeline: candidates → scores → type filter → date filter
    * → percentile normalisation → ranked output (reference
    * `FullMatcherApp.runMatcher`, `matching/app/FullMatcherApp.scala:70-298`). */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    // stage boundaries are schema-validated (name + dataType, metadata
    // only — graft.Schemas), the reference's per-stage validation rule
    val scores = graft.Schemas.validate(
      partScores(s, dir), graft.Schemas.matchScores, "scorer")
    val filtered = PairFilters.dateFilter(
      PairFilters.typeFilter(scores, docTypes(s, dir),
        t => t.startsWith("PROPOSAL")),
      docDates(s, dir))
    graft.Schemas.validate(
        Normalisation.percentileNormalise(
          filtered.select("doc1", "doc2", "score_type", "item_count", "score"),
          "score"),
        graft.Schemas.rankedMatches, "normaliser")
      .orderBy(col("norm_score").desc, col("doc1"), col("doc2"))
  }

  // ---- oracle SQL --------------------------------------------------

  /** CTE chain computing candidate pairs for an entity selection —
    * column-for-column the result of EntityMatching.candidatePairs, in
    * its former join-based spelling (EntityMatchingSpec keeps that
    * spelling as the operator's reference). */
  private def candsSql(entSel: String): String =
    s"""ents AS ($entSel),
       nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM ents),
       keep AS (SELECT entity_id FROM
         (SELECT entity_id, count(*) AS raw_freq FROM ents GROUP BY entity_id), nd
         WHERE raw_freq < n_docs * 0.05),
       g AS (SELECT ents.* FROM ents JOIN keep USING (entity_id)),
       tf AS (SELECT doc_id, entity_id, count(*) AS tf FROM g GROUP BY doc_id, entity_id),
       dc AS (SELECT doc_id, count(*) AS doc_entity_count FROM g GROUP BY doc_id),
       idf AS (SELECT entity_id,
         CAST(round(log10(CAST(n_docs AS DOUBLE)/df)*1e6) AS BIGINT) AS idf_micro
         FROM (SELECT entity_id, count(*) AS df FROM tf GROUP BY entity_id), nd),
       cands AS (SELECT a.entity_id, a.doc_id AS doc1, b.doc_id AS doc2,
         a.tf AS tf1, b.tf AS tf2,
         a.doc_entity_count AS cnt1, b.doc_entity_count AS cnt2, idf.idf_micro
         FROM (SELECT tf.doc_id, tf.entity_id, tf.tf, dc.doc_entity_count
               FROM tf JOIN dc USING (doc_id)) a
         JOIN (SELECT tf.doc_id, tf.entity_id, tf.tf, dc.doc_entity_count
               FROM tf JOIN dc USING (doc_id)) b
           ON a.entity_id = b.entity_id AND a.doc_id < b.doc_id
         JOIN idf ON idf.entity_id = a.entity_id)"""

  private def scoresSql(entSel: String, scoreType: String): String =
    s"""${candsSql(entSel)},
       scores AS (SELECT doc1, doc2, '$scoreType' AS score_type, item_count,
         CAST(round(((sum_micro/1e6) * (1.0 + 10.0 * (item_count * (0.5/cnt1 + 0.5/cnt2))))*1e6) AS BIGINT)/1e6 AS score
         FROM (SELECT doc1, doc2, cnt1, cnt2,
           CAST(sum((tf1+tf2)*idf_micro) AS BIGINT) AS sum_micro,
           count(*) AS item_count
           FROM cands GROUP BY doc1, doc2, cnt1, cnt2))"""

  private val partEnts =
    "SELECT l_orderkey AS doc_id, l_partkey AS entity_id FROM lineitem"
  private val partSuppEnts =
    "SELECT l_orderkey AS doc_id, l_partkey * 100000 + l_suppkey AS entity_id FROM lineitem"

  /** Same scores CTE built twice with disambiguated names + unioned. */
  private def bothScoresSql: String = {
    def rename(sql: String, suffix: String): String =
      Seq("ents", "nd", "keep", "g", "tf", "dc", "idf", "cands", "scores")
        .foldLeft(sql)((acc, n) => acc.replaceAll(s"\\b$n\\b", s"${n}_$suffix"))
    s"""${rename(scoresSql(partEnts, "part_overlap"), "p")},
       ${rename(scoresSql(partSuppEnts, "partsupp_overlap"), "ps")},
       allscores AS (SELECT * FROM scores_p UNION ALL SELECT * FROM scores_ps)"""
  }

  /** q72's weight-training input as a SELECT body: the both-types
    * intersection (`pairsc`) — the oracle replay of
    * [[weightPairScores]]. One fragment, consumed by BOTH the
    * monolithic oracle and the sharded sf1 replay so they cannot
    * drift. */
  private def q72PairscSql: String =
    """SELECT doc1, doc2, s1, s2 FROM (
       SELECT doc1, doc2,
         coalesce(max(CASE WHEN score_type = 'part_overlap' THEN score END), 0.0) AS s1,
         coalesce(max(CASE WHEN score_type = 'partsupp_overlap' THEN score END), 0.0) AS s2
       FROM allscores GROUP BY doc1, doc2)
       WHERE s1 > 0.0 AND s2 > 0.0"""

  /** Per-lattice-point rank-error evaluation over a pairsc relation —
    * q72's scored→ranked→error chain as one WITH body. The lattice
    * selection is pluggable so the sharded replay can evaluate a
    * subset of the 81 num/80 points per pass (each pass's window sort
    * then spills at |pairsc| × points-per-shard instead of × 81). */
  private def q72ErrsSql(pairscRel: String, latticeFilter: String): String =
    s"""lattice AS (SELECT i AS num, CAST(i AS DOUBLE)/80 AS w1,
         1.0 - CAST(i AS DOUBLE)/80 AS w2 FROM range(0, 81) t(i)$latticeFilter),
       scored AS (SELECT num, doc1, doc2,
         ((doc1 + doc2) % 5 = 0) AS accepted,
         CAST(round((w1 * s1 + w2 * s2) * 1e6) AS BIGINT) AS total_micro
         FROM $pairscRel, lattice),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY num, doc1
         ORDER BY total_micro DESC, doc2) AS rnk FROM scored)
       SELECT num,
         CAST(sum(CASE WHEN accepted THEN rnk - 1 ELSE 0 END) AS BIGINT) AS error
       FROM ranked GROUP BY num"""

  /** The q72 walk — coarse pick (multiples of 16) plus four halving
    * rounds (±8, ±4, ±2, ±1) as argmin CTEs over an `errs(num, error)`
    * relation (out-of-range probes vanish via the IN-list) — and the
    * final per-round report. */
  private def q72WalkSql: String =
    """r0 AS (SELECT num, error FROM errs WHERE num % 16 = 0
         ORDER BY error, num LIMIT 1),
       r1 AS (SELECT e.num, e.error FROM errs e, r0
         WHERE e.num IN (r0.num - 8, r0.num, r0.num + 8)
         ORDER BY e.error, e.num LIMIT 1),
       r2 AS (SELECT e.num, e.error FROM errs e, r1
         WHERE e.num IN (r1.num - 4, r1.num, r1.num + 4)
         ORDER BY e.error, e.num LIMIT 1),
       r3 AS (SELECT e.num, e.error FROM errs e, r2
         WHERE e.num IN (r2.num - 2, r2.num, r2.num + 2)
         ORDER BY e.error, e.num LIMIT 1),
       r4 AS (SELECT e.num, e.error FROM errs e, r3
         WHERE e.num IN (r3.num - 1, r3.num, r3.num + 1)
         ORDER BY e.error, e.num LIMIT 1)
       SELECT CAST(0 AS INTEGER) AS round, CAST(num AS DOUBLE)/80 AS w1, error FROM r0
       UNION ALL SELECT 1, CAST(num AS DOUBLE)/80, error FROM r1
       UNION ALL SELECT 2, CAST(num AS DOUBLE)/80, error FROM r2
       UNION ALL SELECT 3, CAST(num AS DOUBLE)/80, error FROM r3
       UNION ALL SELECT 4, CAST(num AS DOUBLE)/80, error FROM r4
       ORDER BY round"""

  /** Sharded replay plan for q72 — the sf1-volume gate (VERDICT r16
    * item 2): the monolithic replay is disk-bound at sf1 (the 81-point
    * lattice × 4-round walk over the pivot chain ENOSPCs >67 G of
    * DuckDB temp, BASELINE r16). Staged: the intersection materializes
    * once (one pivot-chain pass — the q19-oracle class, PASS at sf1),
    * the lattice evaluates in point shards (each pass's expansion is
    * |pairsc| × ⌈81/NSH⌉ rows), and the argmin walk runs once over the
    * materialized per-point errors. Composed from the SAME fragments
    * as the monolithic oracle above; executed by
    * `tools/shard_replay.py` via [[graft.tools.ShardSqlDump]]. */
  private[graft] def shardReplayPlan(name: String): Seq[(String, String)] =
    name match {
      case "q72_weight_refine" => Seq(
        "once" -> (s"CREATE TABLE pairsc_t AS WITH $bothScoresSql, " +
          s"pairsc AS ($q72PairscSql) SELECT * FROM pairsc"),
        "once" -> "CREATE TABLE errs_t (num BIGINT, error BIGINT)",
        "shard" -> ("INSERT INTO errs_t WITH " +
          q72ErrsSql("pairsc_t", " WHERE i % {NSH} = {S}")),
        "once" -> (s"CREATE TABLE want AS WITH errs AS " +
          s"(SELECT * FROM errs_t), $q72WalkSql"))
      case other =>
        throw new IllegalArgumentException(s"no shard plan for $other")
    }

  /** Rank evaluation (reference `RankEvaluatorApp.scala:43-57`): where
    * do the labelled-true pairs rank among their document's candidates?
    * Output: rank-bucket histogram (1..10, 11 = "below top-10"). */
  def q71RankEval(s: SparkSession, dir: String): DataFrame = {
    val sc = partScores(s, dir)
    val w = Window.partitionBy("doc1")
      .orderBy(round(col("score") * 1e6).cast("long").desc, col("doc2"))
    sc.withColumn("rnk", row_number().over(w))
      .filter((col("doc1") + col("doc2")) % 5 === 0)
      .withColumn("rank_bucket",
        when(col("rnk") <= 10, col("rnk")).otherwise(lit(11L)))
      .groupBy("rank_bucket")
      .agg(count(lit(1)).as("n_true_pairs"))
      .orderBy("rank_bucket")
  }

  /** Walker-style weight refinement. Consumes the same pivoted pair
    * scores and synthetic labels as q20. Oracled by evaluating the
    * whole reachable weight lattice (81 points at denom=80) and
    * unrolling the 4-round argmin walk in CTEs — the same scheme
    * q82's oracle uses for Lloyd iterations; WeightSpec asserts the
    * error trajectory on top. */
  def q72WeightRefine(s: SparkSession, dir: String): DataFrame =
    WeightTraining.refineWeightsLabeled(s,
        withLabels(weightPairScores(s, dir)))
      .orderBy("round")

  /** One score type a training chain adds to the q20 pair universe:
    * an orders-side column `value` (named `name` in the dim), scored
    * per pair from its two sides' values. */
  private[graft] final case class ScoreDim(name: String, value: Column,
                                           score: (Column, Column) => Column)

  /** `100 / (1 + |a − b|)`: proximity of two integer-valued sides. */
  private def proximity(a: Column, b: Column): Column =
    lit(100.0) / (lit(1) + abs(a - b))

  /** 100 when both sides agree, else 0. */
  private def sameValue(a: Column, b: Column): Column =
    when(a === b, 100.0).otherwise(0.0)

  /** One weight-training chain over k = 2 + |dims| score types (J7/A9
    * at the reference's arity — `WeightTrainerStage.scala:321-456`
    * walks ~9 types; q20/q72 are the 2-type base case). Its three
    * queries and its two memo families (`pairScores<k>`, `k<k>walk`)
    * derive from this row:
    *
    *  - `pairScores`: the q20 pair universe (matched by BOTH entity
    *    types) widened with `dims`, signals of distinct natures — the
    *    way the reference mixes entity-overlap scores with date /
    *    numeric / categorical evidence. One dim of `dims` columns
    *    projected from orders and joined per pair side: broadcast-
    *    sized joins, no new quadratic work. Memoized, because the grid
    *    and every Walker round each drive a distributed pass over it
    *    (a user tuning weights persists the score table once);
    *    parts = doc1, since the dim joins broadcast one side or the
    *    other, so the doc1 layout the rank windows need is re-pinned
    *    (the frame is intersection-sized).
    *  - `gridQuery`: the constrained k-type simplex lattice (Σnᵢ =
    *    `gridSteps`) generated by iterated constrained cross joins,
    *    every point evaluated in ONE distributed pass.
    *  - `walkQuery`: Walker refinement on the k-type simplex (the q72
    *    driver loop generalized past the 1-D case): coarse sub-simplex
    *    (steps=4 at denom=32) then 3 halving rounds probing the
    *    incumbent's ±step moves along every ordered axis pair. The
    *    trajectory is memoized: the trained vector is the artifact a
    *    user persists (train once, serve many), so the walk runs once
    *    per (session, dir) for both its consumers.
    *  - `serveQuery`: trained weights APPLIED — the reference's
    *    train→score loop closed (`FullMatcherApp` runs
    *    `WeightTrainerStage` and then `TotalStatisticStage` with the
    *    trained weights; q43 used a fixed 0.7/0.3 dim). The final
    *    incumbent's k lattice coordinates arrive as a driver scalar
    *    (S9 shape), every pair is scored with wᵢ = nᵢ/32 exactly as
    *    [[graft.operators.WeightTraining.evaluateSimplex]] scores a
    *    grid point (total_micro = round(Σ wᵢsᵢ·1e6)), top-3 per doc1.
    *
    * The oracles replay each chain's walk in DuckDB (k=3: the full
    * n/32 lattice; k=6: only the visited points) and apply the same
    * final weights — training and serving provably agree. */
  private[graft] final case class TrainingChain(gridSteps: Int,
      dims: Seq[ScoreDim], gridQuery: String, walkQuery: String,
      serveQuery: String) {
    val k: Int = 2 + dims.size
    def queries: Seq[String] = Seq(gridQuery, walkQuery, serveQuery)

    lazy val pairScores: Family[Unit] = Family[Unit](s"pairScores$k", Match,
        Seq(weightPairScores.prefix), queries.toSet, Seq("doc1")) { (s, dir, _) =>
      val dim = Tables.orders(s, dir).select(
        col("o_orderkey").as("doc_id") +: dims.map(d => d.value.as(d.name)): _*)
      def side(i: Int) = dim.select(col("doc_id").as(s"doc$i") +:
        dims.map(d => col(d.name).as(s"${d.name}$i")): _*)
      dims.zipWithIndex
        .foldLeft(weightPairScores(s, dir)
          .join(side(1), Seq("doc1")).join(side(2), Seq("doc2"))) {
          case (df, (d, i)) => df.withColumn(s"s${i + 3}",
            d.score(col(s"${d.name}1"), col(s"${d.name}2")))
        }
        .select(("doc1" +: "doc2" +: (1 to k).map(i => s"s$i")).map(col): _*)
    }

    lazy val walk: Family[Unit] = Family[Unit](s"k${k}walk", Match,
        Seq(pairScores.prefix), Set(walkQuery, serveQuery)) { (s, dir, _) =>
      WeightTraining.refineWeightsSimplexLabeled(s,
        withLabels(pairScores(s, dir)), k = k)
    }

    def grid(s: SparkSession, dir: String): DataFrame =
      WeightTraining.evaluateSimplexLabeled(
          withLabels(pairScores(s, dir)),
          WeightTraining.simplexGrid(s, k = k, steps = gridSteps), k = k)
        .orderBy((1 until k).map(i => col(s"n$i")): _*)

    def refine(s: SparkSession, dir: String): DataFrame =
      walk(s, dir).orderBy("round")

    def serve(s: SparkSession, dir: String): DataFrame = {
      val fin = walk(s, dir)
        .orderBy(col("round").desc).limit(1)
        .select((1 to k).map(i => col(s"n$i")): _*).head
      val ws = (0 until k).map(i => fin.getLong(i) / 32.0)
      val scored = pairScores(s, dir).withColumn("total_micro",
        round((1 to k).map(i => lit(ws(i - 1)) * col(s"s$i"))
          .reduce(_ + _) * 1e6).cast("long"))
      val w = Window.partitionBy("doc1")
        .orderBy(col("total_micro").desc, col("doc2"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("doc1", "doc2", "total_micro", "rnk")
        .orderBy("doc1", "rnk")
    }

    def registry: Seq[(String, Q)] =
      Seq(gridQuery -> (grid _), walkQuery -> (refine _),
        serveQuery -> (serve _))
  }

  /** Year proximity, s3 = 100/(1+|year₁−year₂|): one integer
    * abs-difference and one double division per pair. */
  private val yearProximity =
    ScoreDim("yr", year(col("o_orderdate")), proximity)

  /** k=3 (q159 grid over the 21-point Σnᵢ = 5 lattice, q160 walk, q161
    * serve): the pair universe plus year proximity — the dim is a
    * 2-column projection of orders. */
  private[graft] val k3Chain = TrainingChain(gridSteps = 5,
    Seq(yearProximity),
    "q159_weight_grid_k3", "q160_weight_refine_k3", "q161_trained_total")

  /** k=6, the reference's REAL arity (q199 grid over the C(9,5) = 126
    * points of Σnᵢ = 4 — the |pairs|×|grid| shuffle that grows with k,
    * measured as its own BASELINE row; q200 walk, probing up to
    * k(k−1) = 30 moves + the incumbent per round; q203 serve): year
    * proximity, total-price band proximity (exact integer cents
    * // 1e6 banding, the q177 cents rule), same customer, same
    * priority. */
  private[graft] val k6Chain = TrainingChain(gridSteps = 4, Seq(
      yearProximity,
      ScoreDim("pband",
        expr("cast(round(o_totalprice * 100) as bigint) div 1000000"),
        proximity),
      ScoreDim("cust", col("o_custkey"), sameValue),
      ScoreDim("prio", col("o_orderpriority"), sameValue)),
    "q199_weight_grid_k6", "q200_weight_refine_k6", "q203_trained_total_k6")

  private[graft] val trainingChains: Seq[TrainingChain] = Seq(k3Chain, k6Chain)

  /** q94: the FullMatcherApp end-to-end composite (reference
    * `matching/app/FullMatcherApp.scala:38-67`, pipelines 1-2) — the
    * matcher-side counterpart of q93's curation chain. Off the SAME
    * memoized frames the standalone stages use, so the composite pays
    * the joins, not a recompute:
    *
    * analyser/matcher (both entity types, q13/q14) → type filter
    * (PROPOSAL↔PUBLICATION, q15) → date filter (year₁ ≤ year₂, q16) →
    * canonical pair-dedup persister direction (least/greatest, q44) →
    * per-pair multi-type verdict with the q17 whitelist rule → weighted
    * total score (q43's 0.7/0.3 dim, micro-exact) → percentile
    * normalisation (q12's bounded histogram, driver-traffic O(1) in n)
    * → per-document match-count stat (q18's counting leg). One row per
    * surviving pair with every stage's verdict. */
  def q94MatcherPipeline(s: SparkSession, dir: String): DataFrame = {
    val scores = matchScores(s, dir)
    val typed = PairFilters.typeFilter(scores, docTypes(s, dir),
      t => t.startsWith("PROPOSAL"))
    val dated = PairFilters.dateFilter(typed, docDates(s, dir))
    // flags shape, not countDistinct/collect_set: pair keys are
    // near-unique, so a distinct aggregate would EXPAND + fall back to
    // sort-based ObjectHashAggregate past 128 groups — the exact
    // scale-killer PairFilters.multiTypeFilter's scaladoc documents
    // (measured 473 s vs 11 s at sf0.1). max(when) flags keep the
    // whole roll-up one codegen'd HashAggregate.
    val pairs = dated
      .withColumn("w_micro", round(col("score") *
        when(col("score_type") === "part_overlap", 0.7).otherwise(0.3)
        * 1e6).cast("long"))
      .groupBy(least(col("doc1"), col("doc2")).as("doc1"),
        greatest(col("doc1"), col("doc2")).as("doc2"))
      .agg(
        max(when(col("score_type") === "part_overlap", 1L)
          .otherwise(0L)).as("has_p"),
        max(when(col("score_type") === "partsupp_overlap", 1L)
          .otherwise(0L)).as("has_ps"),
        sum("w_micro").as("total_micro"))
      .withColumn("n_types", col("has_p") + col("has_ps"))
      .withColumn("types", concat_ws(",",
        when(col("has_p") === 1L, "part_overlap"),
        when(col("has_ps") === 1L, "partsupp_overlap")))
      .filter(col("n_types") > 1 || col("has_ps") === 1L)
      .drop("has_p", "has_ps")
    Normalisation.percentileNormalise(pairs, "total_micro")
      .withColumn("doc1_n_matches",
        count(lit(1)).over(Window.partitionBy("doc1")))
      .select("doc1", "doc2", "n_types", "types", "total_micro",
        "norm_score", "doc1_n_matches")
      .orderBy("doc1", "doc2")
  }

  // Fellegi-Sunter blocking resolution: sub-blocks per nation so block
  // size stays ~O(64) at ANY corpus size — the q74 lshBits discipline
  // (a fixed resolution is a hidden quadratic; sf3 proved it).
  // Smallest power of two with n <= 1600 * 2^j; capped at 4096.
  private val FsMaxSubPow = 12
  private[graft] def fsSubBlocks(n: Long): Int =
    (0 until FsMaxSubPow).find(j => n <= (1600L << j))
      .map(1 << _).getOrElse(1 << FsMaxSubPow)
  private def fsSubBlocksSql(nExpr: String): String =
    (0 until FsMaxSubPow)
      .map(j => s"WHEN $nExpr <= ${1600L << j} THEN ${1 << j}")
      .mkString("CASE ", " ", s" ELSE ${1 << FsMaxSubPow} END")

  /** q176: FELLEGI-SUNTER m/u-PROBABILITY ESTIMATION (Fellegi & Sunter
    * 1969; the EM formulation of Winkler 1988 — the model every
    * probabilistic record-linkage engine fits before it scores): over
    * blocked candidate pairs with k binary agreement fields, EM
    * estimates m_i = P(field i agrees | match), u_i = P(agrees |
    * non-match) and the match prevalence p, UNSUPERVISED — the
    * latent match indicator is integrated out. This is the
    * principled version of the reference's hand-tuned score weights
    * (`WeightTrainerStage` searches a weight simplex against labeled
    * ranks; FS-EM derives log2(m/u) evidence weights from the pair
    * corpus itself — the two approaches bracket how real matchers get
    * their weights).
    *
    * Agreement fields over customer pairs: thousand-dollar balance
    * band, market segment, id check digit (the synthetic stand-in for
    * the reference's phonetic/name fields — its names are unique
    * strings by construction).
    *
    * Determinism at the hash-compare bar: every EM update is computed
    * from INTEGER sums (per-pair responsibilities are micro-rounded
    * doubles — q136 ln precedent: identical IEEE inputs, identical
    * operations — then summed as longs, which is partition-order
    * independent), and each round's (m, u, p) are integer-division
    * micro units, so both engines walk the identical parameter
    * trajectory. DECIMAL(38,0) guards the sum-product against long
    * overflow (the q169 second-moment precedent).
    *
    * Scale shape: pairs are generated inside (nation, custkey mod
    * [[fsSubBlocks]]) blocks — block size ~O(64) at any n, so the
    * pair frame grows linearly — and each EM round is ONE map-side
    * combinable aggregation over it with the 7 parameters riding in
    * as broadcast literals (a 1-row frame cross-joined, never a
    * driver collect); 3 statically-unrolled rounds = 3 passes. */
  def q176FellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val (pairs, out) = fsTrajectory(s, dir)
    // materialize before unpersist: the returned frame must not
    // recompute the EM chain against a dropped cache
    val res = Shared.checkpoint(out.orderBy("iter"))
    pairs.unpersist()
    res
  }

  /** The q176 EM chain BEFORE the checkpoint/unpersist epilogue —
    * split out so NewQueryPlanSpec can pin the physical plan (a
    * localCheckpoint'd frame reports only its RDD scan). Returns
    * (cached pairs frame to unpersist, trajectory frame). */
  private[graft] def fsTrajectory(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir)
    val nSub = fsSubBlocks(cust.count())
    val side = cust.select(col("c_custkey").as("k"),
      col("c_nationkey").as("nat"),
      pmod(col("c_custkey"), lit(nSub)).as("sub"),
      // +10^6 cents shifts balances positive so trunc-div == floor-div
      // in both engines (acctbal can be negative)
      expr("(CAST(round(c_acctbal*100) AS BIGINT) + 1000000) div 100000")
        .as("band"),
      col("c_mktsegment").as("seg"),
      pmod(col("c_custkey"), lit(10)).as("chk"))
    def ag(c: String) = when(col(s"${c}1") === col(s"${c}2"), 1L)
      .otherwise(0L).as(s"g_$c")
    val pairs = side.select(col("nat"), col("sub"), col("k").as("k1"),
        col("band").as("band1"), col("seg").as("seg1"),
        col("chk").as("chk1"))
      .join(side.select(col("nat"), col("sub"), col("k").as("k2"),
        col("band").as("band2"), col("seg").as("seg2"),
        col("chk").as("chk2")), Seq("nat", "sub"))
      .filter(col("k1") < col("k2"))
      .select(ag("band"), ag("seg"), ag("chk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one EM round: P(pair | class) under conditional independence,
    // responsibility r, then integer-exact M-step ratios in micro units
    def round1(prev: DataFrame): DataFrame = {
      val withR = pairs.crossJoin(broadcast(prev))
        .withColumn("pm", expr(
          """ (p_mic/1e6)
            * CASE g_band WHEN 1 THEN m1_mic/1e6 ELSE 1 - m1_mic/1e6 END
            * CASE g_seg  WHEN 1 THEN m2_mic/1e6 ELSE 1 - m2_mic/1e6 END
            * CASE g_chk  WHEN 1 THEN m3_mic/1e6 ELSE 1 - m3_mic/1e6 END"""))
        .withColumn("pu", expr(
          """ (1 - p_mic/1e6)
            * CASE g_band WHEN 1 THEN u1_mic/1e6 ELSE 1 - u1_mic/1e6 END
            * CASE g_seg  WHEN 1 THEN u2_mic/1e6 ELSE 1 - u2_mic/1e6 END
            * CASE g_chk  WHEN 1 THEN u3_mic/1e6 ELSE 1 - u3_mic/1e6 END"""))
        .withColumn("r_mic",
          expr("CAST(round(pm / (pm + pu) * 1e6) AS BIGINT)"))
      withR.agg(
          count(lit(1)).as("n"), sum("r_mic").as("sr"),
          sum(expr("r_mic * g_band")).as("srg1"),
          sum(expr("r_mic * g_seg")).as("srg2"),
          sum(expr("r_mic * g_chk")).as("srg3"),
          sum(expr("(1000000 - r_mic) * g_band")).as("sug1"),
          sum(expr("(1000000 - r_mic) * g_seg")).as("sug2"),
          sum(expr("(1000000 - r_mic) * g_chk")).as("sug3"))
        // greatest(·, 1) guards: a degenerate corpus (zero pairs, or a
        // responsibility mass of exactly 0 or 1) must yield a defined
        // all-zero update, not a divide-by-zero (Spark nulls, DuckDB
        // THROWS — the engines diverge exactly where a guard is absent)
        .select(
          expr("CAST(coalesce(CAST(srg1 AS DECIMAL(38,0)) * 1000000 DIV greatest(coalesce(sr, 0), 1), 0) AS BIGINT)").as("m1_mic"),
          expr("CAST(coalesce(CAST(srg2 AS DECIMAL(38,0)) * 1000000 DIV greatest(coalesce(sr, 0), 1), 0) AS BIGINT)").as("m2_mic"),
          expr("CAST(coalesce(CAST(srg3 AS DECIMAL(38,0)) * 1000000 DIV greatest(coalesce(sr, 0), 1), 0) AS BIGINT)").as("m3_mic"),
          expr("CAST(coalesce(CAST(sug1 AS DECIMAL(38,0)) * 1000000 DIV greatest(CAST(n AS DECIMAL(38,0))*1000000 - coalesce(sr, 0), 1), 0) AS BIGINT)").as("u1_mic"),
          expr("CAST(coalesce(CAST(sug2 AS DECIMAL(38,0)) * 1000000 DIV greatest(CAST(n AS DECIMAL(38,0))*1000000 - coalesce(sr, 0), 1), 0) AS BIGINT)").as("u2_mic"),
          expr("CAST(coalesce(CAST(sug3 AS DECIMAL(38,0)) * 1000000 DIV greatest(CAST(n AS DECIMAL(38,0))*1000000 - coalesce(sr, 0), 1), 0) AS BIGINT)").as("u3_mic"),
          expr("coalesce(sr DIV greatest(n, 1), 0)").as("p_mic"))
    }
    val init = s.sql(
      """SELECT CAST(900000 AS BIGINT) m1_mic, CAST(900000 AS BIGINT) m2_mic,
                CAST(900000 AS BIGINT) m3_mic, CAST(200000 AS BIGINT) u1_mic,
                CAST(200000 AS BIGINT) u2_mic, CAST(200000 AS BIGINT) u3_mic,
                CAST(50000 AS BIGINT) p_mic""")
    val t1 = round1(init)
    val t2 = round1(t1)
    val t3 = round1(t2)
    val out = Seq(init -> 0, t1 -> 1, t2 -> 2, t3 -> 3).map {
      case (df, i) => df.withColumn("iter", lit(i.toLong))
    }.reduce(_.unionByName(_))
      .select("iter", "m1_mic", "m2_mic", "m3_mic",
        "u1_mic", "u2_mic", "u3_mic", "p_mic")
    (pairs, out)
  }

  private val SnWindow = 4 // sorted-neighborhood window size

  /** q177: SORTED-NEIGHBORHOOD BLOCKING (Hernández & Stolfo 1995) —
    * the third classic blocking family next to the engine's equality
    * blocks (J8) and LSH buckets (J9): sort the corpus by a fuzzy key
    * and take every pair within a sliding window of [[SnWindow]], so
    * near-misses that equality blocking separates (a balance of
    * 1863.84 vs 1863.90 lands in different thousand-dollar bands but
    * adjacent sort positions) still become candidates, and the
    * candidate count is EXACTLY n·(w−1) — linear by construction, no
    * hot-block cap needed.
    *
    * Scale shape: the global sort position is NOT a single-partition
    * window (the 100 TB killer) — it is the q92 two-phase distributed
    * rank: value-range buckets over the sort key, per-bucket counts
    * broadcast as prefix offsets, then a per-bucket row_number; the
    * window join is offsets 1..w−1 exploded against a rank equi-join,
    * so the only corpus-sized shuffles are the bucket window and one
    * keyed join. The oracle spells the same semantics as one flat
    * row_number window — hash equality proves the two-phase rank
    * IS the global rank. */
  def q177SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("k"),
      expr("CAST(round(c_acctbal*100) AS BIGINT)").as("cents"),
      col("c_mktsegment").as("seg"))
    // the key domain is fixed ([-999.99, 9999.99] dollars), so a fixed
    // bucket width gives ~67 balanced buckets; an open-domain key
    // would derive the width from corpus min/max (the q166 bounds)
    val bucketed = c.withColumn("bucket",
      expr("(cents + 1000000) div 16384"))
    val offsets = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(
        sum("n").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    val wIn = Window.partitionBy("bucket").orderBy(col("cents"), col("k"))
    val ranked = bucketed.join(broadcast(offsets), Seq("bucket"))
      .withColumn("rnk", row_number().over(wIn) + col("offset"))
      .select("k", "cents", "seg", "rnk")
    val right = ranked.select(col("rnk").as("rrnk"), col("k").as("k2"),
      col("cents").as("cents2"), col("seg").as("seg2"))
    ranked
      .withColumn("dist",
        explode(sequence(lit(1L), lit((SnWindow - 1).toLong))))
      .withColumn("rrnk", col("rnk") + col("dist"))
      .join(right, Seq("rrnk"))
      .select(col("k").as("k1"), col("k2"), col("dist"),
        (col("cents2") - col("cents")).as("bal_diff_cents"),
        when(col("seg") === col("seg2"), 1L).otherwise(0L).as("same_seg"))
      .orderBy("k1", "k2")
  }

  /** q185: FELLEGI-SUNTER MATCH-WEIGHT SCORING — the serving half of
    * q176 (the q161-after-q160 pattern: training is pointless until
    * the learned parameters score pairs): each blocked pair's total
    * evidence weight is Σ over fields of log2(m/u) when the field
    * agrees and log2((1−m)/(1−u)) when it disagrees, using the m/u/p
    * estimates EM converged to. The output is the classic linkage
    * HISTOGRAM — pair counts per integer weight band (the bimodal
    * match/non-match chart a linkage analyst reads thresholds off) —
    * plus each band's implied posterior match probability, micro-
    * rounded. Weights are per-FIELD constants (2k numbers derived
    * from the 1-row parameter frame — dimension-sized at any corpus),
    * so scoring is one broadcast join + an integer CASE sum per pair:
    * the 100 TB shape is scan → broadcast → combinable histogram.
    *
    * Determinism: the EM parameters are integer micro units (q176),
    * the log2 weights are micro-rounded doubles of identical integer
    * inputs (q136 ln precedent), and the per-pair total is an integer
    * sum of constants. */
  def q185FsMatchWeights(s: SparkSession, dir: String): DataFrame = {
    val (pairs, hist) = fsWeightsChain(s, dir)
    val res = Shared.checkpoint(hist)
    pairs.unpersist()
    res
  }

  /** The q185 scoring chain BEFORE the checkpoint/unpersist epilogue
    * (the q180/q178 exposed-chain pattern): returns (cached pairs
    * frame to unpersist, histogram frame) so NewQueryPlanSpec can
    * assert the broadcast/no-cartesian contract on the PHYSICAL plan
    * instead of the checkpointed RDD scan. */
  private[graft] def fsWeightsChain(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (pairs, out) = fsTrajectory(s, dir)
    val params = out.filter(col("iter") === 3).drop("iter")
    // clamp both probabilities to [1, 999999] micro before the log
    // ratio: a saturated field (m or u at exactly 0 or 1 on a
    // degenerate corpus) must yield a large finite weight, not ±inf
    def w(mic: String, umic: String) = expr(
      s"""CAST(round(ln(least(greatest($mic, 1), 999999)/1e6
           / (least(greatest($umic, 1), 999999)/1e6)) / ln(2) * 1e6)
         AS BIGINT)""")
    val weights = params.select(
      w("m1_mic", "u1_mic").as("wa1"),
      w("1000000 - m1_mic", "1000000 - u1_mic").as("wd1"),
      w("m2_mic", "u2_mic").as("wa2"),
      w("1000000 - m2_mic", "1000000 - u2_mic").as("wd2"),
      w("m3_mic", "u3_mic").as("wa3"),
      w("1000000 - m3_mic", "1000000 - u3_mic").as("wd3"),
      col("p_mic"))
    val hist = pairs.crossJoin(broadcast(weights))
      .withColumn("total_mic", expr(
        """ (CASE g_band WHEN 1 THEN wa1 ELSE wd1 END)
          + (CASE g_seg  WHEN 1 THEN wa2 ELSE wd2 END)
          + (CASE g_chk  WHEN 1 THEN wa3 ELSE wd3 END)"""))
      // integer band: floor division toward -inf so both engines
      // agree on negative bands (Spark DIV truncates — shift first)
      .withColumn("band", expr("(total_mic + 100000000) div 1000000 - 100"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"),
        first("p_mic").as("p_mic"))
      // posterior at the band midpoint: p·2^b / (p·2^b + (1-p))
      .withColumn("posterior_mic", expr(
        """CAST(round(
             (p_mic/1e6) * pow(2.0, band + 0.5)
             / ((p_mic/1e6) * pow(2.0, band + 0.5) + 1 - p_mic/1e6)
             * 1e6) AS BIGINT)"""))
      .select("band", "n_pairs", "posterior_mic")
      .orderBy("band")
    (pairs, hist)
  }

  val queries: Map[String, Q] = Map(
    "q185_fs_match_weights" -> (q185FsMatchWeights _),
    "q177_sorted_neighborhood" -> (q177SortedNeighborhood _),
    "q176_fellegi_sunter" -> (q176FellegiSunter _),
    "q94_matcher_pipeline" -> (q94MatcherPipeline _),
    "q13_entity_candidates" -> (q13Candidates _),
    "q14_entity_scores" -> (q14EntityScores _),
    "q15_type_filter" -> (q15TypeFilter _),
    "q16_date_filter" -> (q16DateFilter _),
    "q17_multitype_filter" -> (q17MultiTypeFilter _),
    "q18_match_stats" -> (q18MatchStats _),
    "q19_score_pivot" -> (q19ScorePivot _),
    "q20_weight_grid" -> (q20WeightGrid _),
    "q43_total_score" -> (q43TotalScore _),
    "q44_pair_dedup" -> (q44PairDedup _),
    "q71_rank_eval" -> (q71RankEval _),
    "q72_weight_refine" -> (q72WeightRefine _)) ++
    trainingChains.flatMap(_.registry)

  /** The 3-type weight-training input as a CTE chain ending in
    * `pairsc3(doc1, doc2, s1, s2, s3)` — the oracle replay of
    * [[k3Chain]]'s pair scores (q159/q160). */
  private def pairsc3Sql: String =
    s"""$bothScoresSql,
       pairsc AS (SELECT doc1, doc2, s1, s2 FROM (
         SELECT doc1, doc2,
           coalesce(max(CASE WHEN score_type = 'part_overlap' THEN score END), 0.0) AS s1,
           coalesce(max(CASE WHEN score_type = 'partsupp_overlap' THEN score END), 0.0) AS s2
         FROM allscores GROUP BY doc1, doc2)
         WHERE s1 > 0.0 AND s2 > 0.0),
       yrs AS (SELECT o_orderkey AS doc_id, year(o_orderdate) AS yr FROM orders),
       pairsc3 AS MATERIALIZED (SELECT p.doc1, p.doc2, p.s1, p.s2,
         100.0 / (1 + abs(y1.yr - y2.yr)) AS s3
         FROM pairsc p
         JOIN yrs y1 ON y1.doc_id = p.doc1
         JOIN yrs y2 ON y2.doc_id = p.doc2)"""

  /** The complete q160 walk as a CTE chain: 3-type pair scores →
    * full n/32 lattice errors → coarse pick `r0` → probe rounds
    * `r1`..`r3` (the final incumbent). Shared by the q160 oracle and
    * q161's trained-weight application.
    *
    * `pairsc3`/`errs` are MATERIALIZED (a DuckDB-only hint; this SQL
    * never reaches Spark): the four walk rounds each reference `errs`,
    * and DuckDB's default CTE inlining re-evaluated the whole
    * TF-IDF + 561-point-lattice chain once per round CONCURRENTLY —
    * at sf1 that blew past 60 GiB of temp spill; materialized, the
    * identical query runs in ~2 min. */
  private def walk3CtesSql: String =
    s"""$pairsc3Sql,
       lat AS (SELECT a.n1, b.n2, 32 - a.n1 - b.n2 AS n3
         FROM range(0, 33) a(n1), range(0, 33) b(n2)
         WHERE a.n1 + b.n2 <= 32),
       wscored AS (SELECT n1, n2, n3, doc1, doc2,
         ((doc1 + doc2) % 5 = 0) AS accepted,
         CAST(round((n1/32.0 * s1 + n2/32.0 * s2 + n3/32.0 * s3) * 1e6) AS BIGINT) AS total_micro
         FROM pairsc3, lat),
       wranked AS (SELECT *, row_number() OVER (PARTITION BY n1, n2, doc1
         ORDER BY total_micro DESC, doc2) AS rnk FROM wscored),
       errs AS MATERIALIZED (SELECT n1, n2,
         CAST(sum(CASE WHEN accepted THEN rnk - 1 ELSE 0 END) AS BIGINT) AS error
         FROM wranked GROUP BY n1, n2),
       r0 AS (SELECT n1, n2, error FROM errs
         WHERE n1 % 8 = 0 AND n2 % 8 = 0
         ORDER BY error, n1, n2 LIMIT 1),
       r1 AS (SELECT e.n1, e.n2, e.error FROM errs e, r0
         WHERE ${probeCond(4, "r0")}
         ORDER BY e.error, e.n1, e.n2 LIMIT 1),
       r2 AS (SELECT e.n1, e.n2, e.error FROM errs e, r1
         WHERE ${probeCond(2, "r1")}
         ORDER BY e.error, e.n1, e.n2 LIMIT 1),
       r3 AS (SELECT e.n1, e.n2, e.error FROM errs e, r2
         WHERE ${probeCond(1, "r2")}
         ORDER BY e.error, e.n1, e.n2 LIMIT 1)"""

  /** The 6-type weight-training input as a CTE chain ending in
    * `pairsc6(doc1, doc2, s1..s6)` — the oracle replay of
    * [[k6Chain]]'s pair scores (q199/q200). */
  private def pairsc6Sql: String =
    s"""$bothScoresSql,
       pairsc AS (SELECT doc1, doc2, s1, s2 FROM (
         SELECT doc1, doc2,
           coalesce(max(CASE WHEN score_type = 'part_overlap' THEN score END), 0.0) AS s1,
           coalesce(max(CASE WHEN score_type = 'partsupp_overlap' THEN score END), 0.0) AS s2
         FROM allscores GROUP BY doc1, doc2)
         WHERE s1 > 0.0 AND s2 > 0.0),
       dim6 AS (SELECT o_orderkey AS doc_id, year(o_orderdate) AS yr,
         CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS pband,
         o_custkey AS cust, o_orderpriority AS prio FROM orders),
       pairsc6 AS MATERIALIZED (SELECT p.doc1, p.doc2, p.s1, p.s2,
         100.0 / (1 + abs(d1.yr - d2.yr)) AS s3,
         100.0 / (1 + abs(d1.pband - d2.pband)) AS s4,
         CASE WHEN d1.cust = d2.cust THEN 100.0 ELSE 0.0 END AS s5,
         CASE WHEN d1.prio = d2.prio THEN 100.0 ELSE 0.0 END AS s6
         FROM pairsc p
         JOIN dim6 d1 ON d1.doc_id = p.doc1
         JOIN dim6 d2 ON d2.doc_id = p.doc2)"""

  private def k6N = (1 to 6).map(i => s"n$i").mkString(", ")

  /** Evaluate a candidate-point CTE `cands(n1..n6)` against pairsc6:
    * → `out(n1..n6, error)` — the evaluateSimplex metric in SQL,
    * MATERIALIZED so each walk round is computed once. */
  private def k6EvalSql(cands: String, out: String): String = {
    val total = (1 to 6).map(i => s"c.n$i/32.0*p.s$i").mkString(" + ")
    s"""${out}_sc AS (SELECT ${(1 to 6).map(i => s"c.n$i").mkString(", ")},
         p.doc1, p.doc2, ((p.doc1 + p.doc2) % 5 = 0) AS accepted,
         CAST(round(($total) * 1e6) AS BIGINT) AS total_micro
       FROM pairsc6 p, $cands c),
       ${out}_rk AS (SELECT *, row_number() OVER (
         PARTITION BY n1, n2, n3, n4, n5, doc1
         ORDER BY total_micro DESC, doc2) AS rnk FROM ${out}_sc),
       $out AS MATERIALIZED (SELECT $k6N,
         CAST(sum(CASE WHEN accepted THEN rnk - 1 ELSE 0 END) AS BIGINT) AS error
       FROM ${out}_rk GROUP BY $k6N)"""
  }

  /** Deterministic argmin over an error CTE: (error, n1..n5) lex —
    * n6 is determined by the rest, so this is full-lex, the Scala
    * walk's tie-break. */
  private def k6ArgminSql(errs: String, out: String): String =
    s"""$out AS (SELECT * FROM $errs
       ORDER BY error, n1, n2, n3, n4, n5 LIMIT 1)"""

  /** One Walker probe set around the 1-row incumbent `prev` at step
    * `s`: the 30 ordered-axis-pair moves n + s·(eᵢ−eⱼ) plus the
    * incumbent itself (the i=j no-op rows), bounds-filtered and
    * deduplicated — exactly refineWeightsSimplex's probe builder. */
  private def k6ProbeSql(prev: String, s: Int, out: String): String = {
    val cand = (1 to 6).map(m =>
      s"""p.n$m + $s * ((CASE WHEN mv.i = $m THEN 1 ELSE 0 END)
         - (CASE WHEN mv.j = $m THEN 1 ELSE 0 END)) AS n$m""").mkString(", ")
    val bounds = (1 to 6).map(m => s"n$m BETWEEN 0 AND 32").mkString(" AND ")
    s"""$out AS (SELECT DISTINCT $k6N FROM (
         SELECT $cand FROM $prev p,
           (SELECT a.i, b.j FROM range(1, 7) a(i), range(1, 7) b(j)) mv)
       WHERE $bounds)"""
  }

  /** The complete q200 walk: 6-type pair scores → coarse 126-point
    * sub-simplex pick `k6r0` → probe rounds `k6r1`..`k6r3`. Unlike
    * q160's oracle (full 561-point lattice), only VISITED points are
    * evaluated — the full n/32 6-simplex is ~436k points. */
  private def walk6CtesSql: String = {
    val axes = (1 to 5).map(i => s"range(0, 5) a$i(n$i)").mkString(", ")
    val sum5 = (1 to 5).map(i => s"a$i.n$i").mkString(" + ")
    s"""$pairsc6Sql,
       c0 AS (SELECT ${(1 to 5).map(i => s"a$i.n$i * 8 AS n$i").mkString(", ")},
         (4 - ($sum5)) * 8 AS n6
         FROM $axes WHERE $sum5 <= 4),
       ${k6EvalSql("c0", "e0")},
       ${k6ArgminSql("e0", "k6r0")},
       ${k6ProbeSql("k6r0", 4, "c1")},
       ${k6EvalSql("c1", "e1")},
       ${k6ArgminSql("e1", "k6r1")},
       ${k6ProbeSql("k6r1", 2, "c2")},
       ${k6EvalSql("c2", "e2")},
       ${k6ArgminSql("e2", "k6r2")},
       ${k6ProbeSql("k6r2", 1, "c3")},
       ${k6EvalSql("c3", "e3")},
       ${k6ArgminSql("e3", "k6r3")}"""
  }

  /** One Walker probe set around the incumbent `prev` at step `s`, in
    * (n1, n2) lattice coordinates (n3 = denom − n1 − n2 implicit):
    * the six ordered-axis-pair moves ± the incumbent itself.
    * Out-of-simplex probes self-eliminate — the errs lattice holds
    * only valid points. */
  private def probeCond(s: Int, prev: String): String = Seq(
    s"(e.n1 = $prev.n1 - $s AND e.n2 = $prev.n2)",
    s"(e.n1 = $prev.n1 + $s AND e.n2 = $prev.n2)",
    s"(e.n1 = $prev.n1 AND e.n2 = $prev.n2 - $s)",
    s"(e.n1 = $prev.n1 AND e.n2 = $prev.n2 + $s)",
    s"(e.n1 = $prev.n1 + $s AND e.n2 = $prev.n2 - $s)",
    s"(e.n1 = $prev.n1 - $s AND e.n2 = $prev.n2 + $s)",
    s"(e.n1 = $prev.n1 AND e.n2 = $prev.n2)").mkString(" OR ")

  /** One unrolled FS-EM round as a DuckDB CTE: params from `prev`,
    * responsibilities micro-rounded, M-step in HUGEINT integer
    * division — the mirror of q176's round1. */
  private def fsRoundSql(i: Int, prev: String): String = {
    def caseP(g: String, mic: String) =
      s"(CASE $g WHEN 1 THEN t.$mic/1e6 ELSE 1 - t.$mic/1e6 END)"
    s"""r$i AS (SELECT g_band, g_seg, g_chk,
         CAST(round(pm / (pm + pu) * 1e6) AS BIGINT) AS r_mic
       FROM (SELECT p.g_band, p.g_seg, p.g_chk,
           (t.p_mic/1e6) * ${caseP("g_band", "m1_mic")}
             * ${caseP("g_seg", "m2_mic")}
             * ${caseP("g_chk", "m3_mic")} AS pm,
           (1 - t.p_mic/1e6) * ${caseP("g_band", "u1_mic")}
             * ${caseP("g_seg", "u2_mic")}
             * ${caseP("g_chk", "u3_mic")} AS pu
         FROM pairs p CROSS JOIN $prev t)),
       t$i AS (SELECT
         CAST(CAST(coalesce(sum(r_mic*g_band), 0) AS HUGEINT) * 1000000
           // greatest(coalesce(sum(r_mic), 0), 1) AS BIGINT) AS m1_mic,
         CAST(CAST(coalesce(sum(r_mic*g_seg), 0) AS HUGEINT) * 1000000
           // greatest(coalesce(sum(r_mic), 0), 1) AS BIGINT) AS m2_mic,
         CAST(CAST(coalesce(sum(r_mic*g_chk), 0) AS HUGEINT) * 1000000
           // greatest(coalesce(sum(r_mic), 0), 1) AS BIGINT) AS m3_mic,
         CAST(CAST(coalesce(sum((1000000-r_mic)*g_band), 0) AS HUGEINT)
           * 1000000
           // greatest(CAST(count(*) AS HUGEINT)*1000000
               - coalesce(sum(r_mic), 0), 1)
           AS BIGINT) AS u1_mic,
         CAST(CAST(coalesce(sum((1000000-r_mic)*g_seg), 0) AS HUGEINT)
           * 1000000
           // greatest(CAST(count(*) AS HUGEINT)*1000000
               - coalesce(sum(r_mic), 0), 1)
           AS BIGINT) AS u2_mic,
         CAST(CAST(coalesce(sum((1000000-r_mic)*g_chk), 0) AS HUGEINT)
           * 1000000
           // greatest(CAST(count(*) AS HUGEINT)*1000000
               - coalesce(sum(r_mic), 0), 1)
           AS BIGINT) AS u3_mic,
         CAST(coalesce(sum(r_mic), 0) // greatest(count(*), 1)
           AS BIGINT) AS p_mic
       FROM r$i)"""
  }

  val oracles: Map[String, String] = Map(
    "q185_fs_match_weights" -> {
      def w(mic: String, umic: String) =
        s"""CAST(round(ln(least(greatest($mic, 1), 999999)/1e6
             / (least(greatest($umic, 1), 999999)/1e6)) / ln(2) * 1e6)
           AS BIGINT)"""
      s"""WITH ns AS (SELECT ${fsSubBlocksSql("count(*)")} AS v
           FROM customer),
         c AS (SELECT c_custkey AS k, c_nationkey AS nat,
             c_custkey % (SELECT v FROM ns) AS sub,
             (CAST(round(c_acctbal*100) AS BIGINT) + 1000000) // 100000
               AS band,
             c_mktsegment AS seg, c_custkey % 10 AS chk
           FROM customer),
         pairs AS MATERIALIZED (SELECT
             CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS g_band,
             CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg,
             CASE WHEN a.chk = b.chk THEN 1 ELSE 0 END AS g_chk
           FROM c a JOIN c b ON a.nat = b.nat AND a.sub = b.sub
             AND a.k < b.k),
         t0 AS (SELECT CAST(900000 AS BIGINT) m1_mic,
           CAST(900000 AS BIGINT) m2_mic, CAST(900000 AS BIGINT) m3_mic,
           CAST(200000 AS BIGINT) u1_mic, CAST(200000 AS BIGINT) u2_mic,
           CAST(200000 AS BIGINT) u3_mic, CAST(50000 AS BIGINT) p_mic),
         ${fsRoundSql(1, "t0")},
         ${fsRoundSql(2, "t1")},
         ${fsRoundSql(3, "t2")},
         wts AS (SELECT
             ${w("m1_mic", "u1_mic")} AS wa1,
             ${w("1000000 - m1_mic", "1000000 - u1_mic")} AS wd1,
             ${w("m2_mic", "u2_mic")} AS wa2,
             ${w("1000000 - m2_mic", "1000000 - u2_mic")} AS wd2,
             ${w("m3_mic", "u3_mic")} AS wa3,
             ${w("1000000 - m3_mic", "1000000 - u3_mic")} AS wd3,
             p_mic
           FROM t3),
         scored AS (SELECT
             (CASE g_band WHEN 1 THEN wa1 ELSE wd1 END)
             + (CASE g_seg  WHEN 1 THEN wa2 ELSE wd2 END)
             + (CASE g_chk  WHEN 1 THEN wa3 ELSE wd3 END) AS total_mic,
             p_mic
           FROM pairs CROSS JOIN wts),
         hist AS (SELECT
             (total_mic + 100000000) // 1000000 - 100 AS band,
             CAST(count(*) AS BIGINT) AS n_pairs,
             first(p_mic) AS p_mic
           FROM scored GROUP BY 1)
         SELECT band, n_pairs,
           CAST(round(
             (p_mic/1e6) * pow(2.0, band + 0.5)
             / ((p_mic/1e6) * pow(2.0, band + 0.5) + 1 - p_mic/1e6)
             * 1e6) AS BIGINT) AS posterior_mic
         FROM hist ORDER BY band"""
    },
    // one flat global row_number window — semantically identical to the
    // Spark side's two-phase distributed rank (that identity is what
    // the hash compare proves)
    "q177_sorted_neighborhood" ->
      s"""WITH c AS (SELECT c_custkey AS k,
             CAST(round(c_acctbal*100) AS BIGINT) AS cents,
             c_mktsegment AS seg FROM customer),
         r AS (SELECT k, cents, seg,
             row_number() OVER (ORDER BY cents, k) AS rnk FROM c)
         SELECT a.k AS k1, b.k AS k2, b.rnk - a.rnk AS dist,
           b.cents - a.cents AS bal_diff_cents,
           CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS same_seg
         FROM r a JOIN r b
           ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + ${SnWindow - 1}
         ORDER BY k1, k2""",
    "q176_fellegi_sunter" ->
      s"""WITH ns AS (SELECT ${fsSubBlocksSql("count(*)")} AS v
           FROM customer),
         c AS (SELECT c_custkey AS k, c_nationkey AS nat,
             c_custkey % (SELECT v FROM ns) AS sub,
             (CAST(round(c_acctbal*100) AS BIGINT) + 1000000) // 100000
               AS band,
             c_mktsegment AS seg, c_custkey % 10 AS chk
           FROM customer),
         pairs AS MATERIALIZED (SELECT
             CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS g_band,
             CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg,
             CASE WHEN a.chk = b.chk THEN 1 ELSE 0 END AS g_chk
           FROM c a JOIN c b ON a.nat = b.nat AND a.sub = b.sub
             AND a.k < b.k),
         t0 AS (SELECT CAST(900000 AS BIGINT) m1_mic,
           CAST(900000 AS BIGINT) m2_mic, CAST(900000 AS BIGINT) m3_mic,
           CAST(200000 AS BIGINT) u1_mic, CAST(200000 AS BIGINT) u2_mic,
           CAST(200000 AS BIGINT) u3_mic, CAST(50000 AS BIGINT) p_mic),
         ${fsRoundSql(1, "t0")},
         ${fsRoundSql(2, "t1")},
         ${fsRoundSql(3, "t2")},
         trj AS (
           SELECT CAST(0 AS BIGINT) AS iter, * FROM t0
           UNION ALL SELECT 1, * FROM t1
           UNION ALL SELECT 2, * FROM t2
           UNION ALL SELECT 3, * FROM t3)
         SELECT iter, m1_mic, m2_mic, m3_mic, u1_mic, u2_mic, u3_mic,
           p_mic
         FROM trj ORDER BY iter""",
    "q161_trained_total" ->
      s"""WITH $walk3CtesSql,
         tot AS (SELECT p.doc1, p.doc2,
           CAST(round((r3.n1/32.0 * p.s1 + r3.n2/32.0 * p.s2 +
             (32 - r3.n1 - r3.n2)/32.0 * p.s3) * 1e6) AS BIGINT) AS total_micro
           FROM pairsc3 p, r3),
         trk AS (SELECT *, row_number() OVER (PARTITION BY doc1
           ORDER BY total_micro DESC, doc2) AS rnk FROM tot)
         SELECT doc1, doc2, total_micro, rnk FROM trk
         WHERE rnk <= 3 ORDER BY doc1, rnk""",
    "q159_weight_grid_k3" ->
      s"""WITH $pairsc3Sql,
         grid AS (SELECT a.n1, b.n2, 5 - a.n1 - b.n2 AS n3
           FROM range(0, 6) a(n1), range(0, 6) b(n2)
           WHERE a.n1 + b.n2 <= 5),
         scored AS (SELECT n1, n2, n3, doc1, doc2,
           ((doc1 + doc2) % 5 = 0) AS accepted,
           CAST(round((n1/5.0 * s1 + n2/5.0 * s2 + n3/5.0 * s3) * 1e6) AS BIGINT) AS total_micro
           FROM pairsc3, grid),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY n1, n2, doc1
           ORDER BY total_micro DESC, doc2) AS rnk FROM scored)
         SELECT n1, n2, n3, n1/5.0 AS w1, n2/5.0 AS w2, n3/5.0 AS w3,
           CAST(sum(CASE WHEN accepted THEN rnk - 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN accepted AND rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top1,
           CAST(sum(CASE WHEN accepted AND rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_top3,
           CAST(sum(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
         FROM ranked GROUP BY n1, n2, n3 ORDER BY n1, n2""",
    // refineWeightsSimplex walks the n/32 3-type lattice: evaluate all
    // 561 points once, then unroll the coarse pick (multiples of 8)
    // and the three halving rounds (±4, ±2, ±1 along every ordered
    // axis pair) as argmin CTEs — the q72 scheme in 2-D coordinates
    "q160_weight_refine_k3" ->
      s"""WITH $walk3CtesSql
         SELECT CAST(0 AS INTEGER) AS round, n1, n2, 32 - n1 - n2 AS n3,
           n1/32.0 AS w1, n2/32.0 AS w2, (32 - n1 - n2)/32.0 AS w3, error FROM r0
         UNION ALL SELECT 1, n1, n2, 32 - n1 - n2,
           n1/32.0, n2/32.0, (32 - n1 - n2)/32.0, error FROM r1
         UNION ALL SELECT 2, n1, n2, 32 - n1 - n2,
           n1/32.0, n2/32.0, (32 - n1 - n2)/32.0, error FROM r2
         UNION ALL SELECT 3, n1, n2, 32 - n1 - n2,
           n1/32.0, n2/32.0, (32 - n1 - n2)/32.0, error FROM r3
         ORDER BY round""",
    // k=6 grid: 126-point constrained lattice (Σn = 4), one scored
    // pass — the q159 oracle at reference arity
    "q199_weight_grid_k6" -> {
      val axes = (1 to 5).map(i => s"range(0, 5) a$i(n$i)").mkString(", ")
      val sum5 = (1 to 5).map(i => s"a$i.n$i").mkString(" + ")
      val total = (1 to 6).map(i => s"g.n$i/4.0*p.s$i").mkString(" + ")
      val ws = (1 to 6).map(i => s"n$i/4.0 AS w$i").mkString(", ")
      s"""WITH $pairsc6Sql,
         grid AS (SELECT ${(1 to 5).map(i => s"a$i.n$i").mkString(", ")},
           4 - ($sum5) AS n6 FROM $axes WHERE $sum5 <= 4),
         scored AS (SELECT $k6N, p.doc1, p.doc2,
           ((p.doc1 + p.doc2) % 5 = 0) AS accepted,
           CAST(round(($total) * 1e6) AS BIGINT) AS total_micro
           FROM pairsc6 p, grid g),
         ranked AS (SELECT *, row_number() OVER (
           PARTITION BY n1, n2, n3, n4, n5, doc1
           ORDER BY total_micro DESC, doc2) AS rnk FROM scored)
         SELECT $k6N, $ws,
           CAST(sum(CASE WHEN accepted THEN rnk - 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN accepted AND rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top1,
           CAST(sum(CASE WHEN accepted AND rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_top3,
           CAST(sum(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
         FROM ranked GROUP BY $k6N ORDER BY n1, n2, n3, n4, n5"""
    },
    // k=6 trained serve: the full visited-points walk, then the r3
    // incumbent's weights applied to every pair (the q161 scheme)
    "q203_trained_total_k6" -> {
      val total = (1 to 6).map(i => s"r.n$i/32.0 * p.s$i").mkString(" + ")
      s"""WITH $walk6CtesSql,
         tot AS (SELECT p.doc1, p.doc2,
           CAST(round(($total) * 1e6) AS BIGINT) AS total_micro
           FROM pairsc6 p, k6r3 r),
         trk AS (SELECT *, row_number() OVER (PARTITION BY doc1
           ORDER BY total_micro DESC, doc2) AS rnk FROM tot)
         SELECT doc1, doc2, total_micro, rnk FROM trk
         WHERE rnk <= 3 ORDER BY doc1, rnk"""
    },
    // k=6 walk: replay only the visited points (coarse pick + three
    // probe rounds generated from each argmin row)
    "q200_weight_refine_k6" -> {
      def row(r: Int): String =
        s"""SELECT CAST($r AS INTEGER) AS round, $k6N,
           ${(1 to 6).map(i => s"n$i/32.0 AS w$i").mkString(", ")}, error
           FROM k6r$r"""
      s"""WITH $walk6CtesSql
         ${(0 to 3).map(row).mkString(" UNION ALL ")}
         ORDER BY round"""
    },
    "q94_matcher_pipeline" ->
      s"""WITH $bothScoresSql,
         dt AS (SELECT o_orderkey AS doc_id,
           CASE WHEN o_orderstatus = 'O' THEN 'PROPOSAL' ELSE 'PUBLICATION' END AS doc_type
           FROM orders),
         dd AS (SELECT o_orderkey AS doc_id, o_orderdate AS doc_date FROM orders),
         typed AS (SELECT a.* FROM allscores a
           JOIN dt t1 ON t1.doc_id = a.doc1
           JOIN dt t2 ON t2.doc_id = a.doc2
           WHERE (starts_with(t1.doc_type, 'PROPOSAL') AND NOT starts_with(t2.doc_type, 'PROPOSAL'))
              OR (starts_with(t2.doc_type, 'PROPOSAL') AND NOT starts_with(t1.doc_type, 'PROPOSAL'))),
         dated AS (SELECT typed.* FROM typed
           JOIN dd d1 ON d1.doc_id = doc1
           JOIN dd d2 ON d2.doc_id = doc2
           WHERE year(d1.doc_date) <= year(d2.doc_date)),
         pairs AS (SELECT least(doc1, doc2) AS doc1,
             greatest(doc1, doc2) AS doc2,
             count(DISTINCT score_type) AS n_types,
             string_agg(DISTINCT score_type, ',' ORDER BY score_type) AS types,
             CAST(sum(CAST(round(score *
               CASE score_type WHEN 'part_overlap' THEN 0.7 ELSE 0.3 END
               * 1e6) AS BIGINT)) AS BIGINT) AS total_micro
           FROM dated GROUP BY 1, 2),
         kept AS (SELECT * FROM pairs
           WHERE n_types > 1 OR contains(types, 'partsupp_overlap')),
         nk AS (SELECT count(*) AS c FROM kept),
         ranked AS (SELECT total_micro,
             row_number() OVER (ORDER BY total_micro DESC) AS rn FROM kept),
         ref AS (SELECT min(total_micro) AS ref_micro FROM ranked
           WHERE rn <= (SELECT greatest(1, CAST(ceil(c * 0.01) AS BIGINT)) FROM nk))
         SELECT doc1, doc2, n_types, types, total_micro,
           CAST(round((least(100.0, 100.0 * total_micro / ref_micro))*1e6) AS BIGINT)/1e6 AS norm_score,
           count(*) OVER (PARTITION BY doc1) AS doc1_n_matches
         FROM kept, ref ORDER BY doc1, doc2""",
    "q13_entity_candidates" ->
      s"""WITH ${candsSql(partEnts)}
         SELECT entity_id, doc1, doc2, tf1, tf2, cnt1, cnt2, idf_micro
         FROM cands ORDER BY entity_id, doc1, doc2""",
    "q14_entity_scores" ->
      s"""WITH ${scoresSql(partEnts, "part_overlap")}
         SELECT doc1, doc2, score_type, item_count, score
         FROM scores ORDER BY doc1, doc2""",
    "q15_type_filter" ->
      s"""WITH ${scoresSql(partEnts, "part_overlap")},
         dt AS (SELECT o_orderkey AS doc_id,
           CASE WHEN o_orderstatus = 'O' THEN 'PROPOSAL' ELSE 'PUBLICATION' END AS doc_type
           FROM orders)
         SELECT doc1, doc2, score, t1.doc_type AS doc_type_1, t2.doc_type AS doc_type_2
         FROM scores
         JOIN dt t1 ON t1.doc_id = doc1
         JOIN dt t2 ON t2.doc_id = doc2
         WHERE (starts_with(t1.doc_type, 'PROPOSAL') AND NOT starts_with(t2.doc_type, 'PROPOSAL'))
            OR (starts_with(t2.doc_type, 'PROPOSAL') AND NOT starts_with(t1.doc_type, 'PROPOSAL'))
         ORDER BY doc1, doc2""",
    "q16_date_filter" ->
      s"""WITH ${scoresSql(partEnts, "part_overlap")},
         dd AS (SELECT o_orderkey AS doc_id, o_orderdate AS doc_date FROM orders)
         SELECT doc1, doc2, score,
           year(d1.doc_date) AS year_1, year(d2.doc_date) AS year_2
         FROM scores
         JOIN dd d1 ON d1.doc_id = doc1
         JOIN dd d2 ON d2.doc_id = doc2
         WHERE year(d1.doc_date) <= year(d2.doc_date)
         ORDER BY doc1, doc2""",
    "q17_multitype_filter" ->
      s"""WITH $bothScoresSql
         SELECT doc1, doc2, n_types, types FROM (
           SELECT doc1, doc2,
             count(DISTINCT score_type) AS n_types,
             string_agg(DISTINCT score_type, ',' ORDER BY score_type) AS types
           FROM allscores GROUP BY doc1, doc2)
         WHERE n_types > 1 OR contains(types, 'partsupp_overlap')
         ORDER BY doc1, doc2""",
    "q18_match_stats" ->
      s"""WITH ${scoresSql(partEnts, "part_overlap")},
         sides AS (
           SELECT doc1 AS doc_id, CAST(round(score*1000) AS BIGINT) AS score_milli FROM scores
           UNION ALL
           SELECT doc2 AS doc_id, CAST(round(score*1000) AS BIGINT) AS score_milli FROM scores),
         wm AS (SELECT doc_id, score_milli,
           max(score_milli) OVER (PARTITION BY doc_id) AS max_milli FROM sides),
         base AS (SELECT doc_id,
           count(*) AS n_matches,
           min(score_milli) AS min_milli,
           max(score_milli) AS max_milli,
           CAST(sum(score_milli) AS BIGINT) AS sum_milli,
           CAST(sum(score_milli * score_milli) AS BIGINT) AS sxx,
           quantile_cont(score_milli, 0.5) AS median_milli,
           CAST(sum(CASE WHEN score_milli * 5 >= max_milli * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_band_top
           FROM wm GROUP BY doc_id)
         SELECT doc_id, n_matches, min_milli, max_milli, sum_milli,
           CAST(round(((sum_milli / 1000.0) / n_matches)*1e6) AS BIGINT)/1e6 AS mean_score,
           CAST(round((median_milli / 1000.0)*1e6) AS BIGINT)/1e6 AS median_score,
           CASE WHEN n_matches > 1 THEN
             CAST(round((sqrt((n_matches * sxx - sum_milli * sum_milli)
               / (n_matches * (n_matches - 1.0))) / 1000.0)*1e6) AS BIGINT)/1e6
           ELSE 0.0 END AS std_score,
           n_band_top
         FROM base ORDER BY doc_id""",
    "q19_score_pivot" ->
      s"""WITH $bothScoresSql
         SELECT doc1, doc2,
           coalesce(max(CASE WHEN score_type = 'part_overlap' THEN score END), 0.0) AS score_part,
           coalesce(max(CASE WHEN score_type = 'partsupp_overlap' THEN score END), 0.0) AS score_partsupp
         FROM allscores GROUP BY doc1, doc2 ORDER BY doc1, doc2""",
    "q20_weight_grid" ->
      s"""WITH $bothScoresSql,
         pairsc AS (SELECT doc1, doc2, s1, s2 FROM (
           SELECT doc1, doc2,
             coalesce(max(CASE WHEN score_type = 'part_overlap' THEN score END), 0.0) AS s1,
             coalesce(max(CASE WHEN score_type = 'partsupp_overlap' THEN score END), 0.0) AS s2
           FROM allscores GROUP BY doc1, doc2)
           WHERE s1 > 0.0 AND s2 > 0.0),
         grid AS (SELECT i AS weight_id, i/5.0 AS w1, 1.0 - i/5.0 AS w2 FROM range(0, 6) t(i)),
         scored AS (SELECT weight_id, doc1, doc2,
           ((doc1 + doc2) % 5 = 0) AS accepted,
           CAST(round((w1 * s1 + w2 * s2) * 1e6) AS BIGINT) AS total_micro
           FROM pairsc, grid),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY weight_id, doc1
           ORDER BY total_micro DESC, doc2) AS rnk FROM scored)
         SELECT weight_id,
           CAST(sum(CASE WHEN accepted THEN rnk - 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN accepted AND rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top1,
           CAST(sum(CASE WHEN accepted AND rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_top3,
           CAST(sum(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
         FROM ranked GROUP BY weight_id ORDER BY weight_id""",
    "q43_total_score" ->
      s"""WITH $bothScoresSql,
         weights(score_type, weight) AS (SELECT * FROM (VALUES
           ('part_overlap', 0.7), ('partsupp_overlap', 0.3))),
         j AS (SELECT a.doc1, a.doc2, a.score, w.weight,
             max(a.score) OVER (PARTITION BY a.doc2, a.score_type) AS ctx_max
           FROM allscores a JOIN weights w ON a.score_type = w.score_type),
         q AS (SELECT doc1, doc2,
             CAST(round(score * weight * 1e6) AS BIGINT) AS w_micro,
             least(CAST(round(score / ctx_max * 100.0 * 1e6) AS BIGINT),
               100000000) AS ctx_micro
           FROM j)
         SELECT doc1, doc2, count(*) AS n_types,
           CAST(sum(w_micro) AS BIGINT)/1e6 AS total_score,
           CAST(sum(ctx_micro) AS BIGINT)/1e6 AS ctx_score
         FROM q GROUP BY doc1, doc2 ORDER BY doc1, doc2""",
    "q71_rank_eval" ->
      s"""WITH ${scoresSql(partEnts, "part_overlap")},
         ranked AS (SELECT doc1, doc2,
           row_number() OVER (PARTITION BY doc1
             ORDER BY CAST(round(score*1e6) AS BIGINT) DESC, doc2) AS rnk
           FROM scores)
         SELECT CASE WHEN rnk <= 10 THEN rnk ELSE 11 END AS rank_bucket,
           count(*) AS n_true_pairs
         FROM ranked WHERE (doc1 + doc2) % 5 = 0
         GROUP BY 1 ORDER BY rank_bucket""",
    "q44_pair_dedup" ->
      s"""WITH ${scoresSql(partEnts, "part_overlap")},
         dups AS (SELECT doc1, doc2, score_type, item_count, score FROM scores
           UNION ALL
           SELECT doc2, doc1, score_type, item_count, score FROM scores)
         SELECT least(doc1, doc2) AS pair_lo, greatest(doc1, doc2) AS pair_hi,
           score_type,
           count(*) AS n_directions,
           CAST(sum(item_count) AS BIGINT) AS total_items,
           max(score) AS score
         FROM dups GROUP BY 1, 2, 3 ORDER BY pair_lo, pair_hi""",
    // refineWeights walks the num/80 lattice (WeightTraining scaladoc):
    // evaluate every lattice point once, then unroll the coarse pick
    // and the four halving rounds as argmin CTEs — composed from the
    // q72PairscSql/q72ErrsSql/q72WalkSql fragments the sharded sf1
    // replay also uses, so the two replays cannot drift
    "q72_weight_refine" ->
      s"""WITH $bothScoresSql,
         pairsc AS ($q72PairscSql),
         errs AS (WITH ${q72ErrsSql("pairsc", "")}),
         $q72WalkSql""")
}
