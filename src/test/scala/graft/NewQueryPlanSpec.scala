package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-shape contracts for the round-7 queries — the scaladoc'd
  * 100 TB claims asserted against the actual plans, in the
  * CompositePlanSpec tradition: a broadcast flipping to a shuffle or
  * an accidental cartesian fails here instead of at scale.
  */
class NewQueryPlanSpec extends AnyFunSuite {
  import TestSpark._

  test("q106: centroid table broadcasts; no unbounded cartesian") {
    val df = queries.VectorQueries.q106SemDedup(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the K-row centroid table may cross-join via broadcast NLJ; a
    // non-broadcast cartesian of corpus-sized sides must never appear
    assert(!plan.contains("CartesianProduct"),
      s"q106 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q106's centroid assignment must broadcast:\n$plan")
  }

  test("q107: query terms and df broadcast; postings stay partitioned") {
    val df = queries.TextQueries.q107Bm25(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q107 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q107's query-term and df sides must broadcast:\n$plan")
    // the corpus-side postings aggregation must keep partial (map-side)
    // aggregation — two HashAggregates around its exchange
    assert(plan.contains("HashAggregate"),
      s"q107's tf/df must be hash aggregates:\n$plan")
  }

  test("q110: cross-side bucket join is an equi join, verify side keyed") {
    val df = queries.DedupQueries.q110IncrementalDedup(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q110's bucket join must be an equi join on (band, key):\n$plan")
  }

  test("q106: K grows with the corpus; prior side capped in the plan") {
    // the SemDeDup premise pinned as code: cells stay near TargetCell
    // because K is corpus-derived, never a constant
    assert(queries.VectorQueries.semDedupK(500L) === 8)
    assert(queries.VectorQueries.semDedupK(5000L) === 79)
    assert(queries.VectorQueries.semDedupK(500000L) === 7813)
    assert(queries.VectorQueries.semDedupK(400000L) * 10 <=
      queries.VectorQueries.semDedupK(4000000L) + 10)
    // beyond the linear regime K pins at KMax (the paper's fixed-K
    // web-scale regime): assignment stays O(n·KMax) and the CellCap
    // bounds the pair stage as cells grow past TargetCell
    assert(queries.VectorQueries.semDedupK(10000000L) === 65536)
    assert(queries.VectorQueries.semDedupK(10000000000L) === 65536)
    // and the within-cell pair stage reads from the rank-capped prior
    // side (defense in depth for skewed clusterings)
    val df = queries.VectorQueries.q106SemDedup(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("prior_rank"),
      s"q106's pair stage must read the capped prior side:\n$plan")
  }

  test("q110: a batch-hot bucket cannot fan out (batch-side cap)") {
    // 60 batch docs sharing one boilerplate text all land in the same
    // buckets (bucket_n = 60 > 50) — the batch-side cap must drop
    // them even though the existing side holds a match; the lone
    // distinct batch doc still pairs with its existing twin
    import spark.implicits._
    val hot = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val uniq = "quick brown fox jumps over the lazy dog near riverbank"
    val existing = Seq((1L, hot), (2L, uniq), (3L, "unrelated words only here nothing shared with others at all"))
      .toDF("doc_id", "text")
    val batch = ((100L to 159L).map(i => (i, hot)) :+ (200L, uniq))
      .toDF("doc_id", "text")
    val out = operators.TextDedup
      .incrementalDupPairs(existing, batch, "doc_id", "text")
      .select("new_doc", "old_doc").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((200L, 2L)),
      s"batch-hot bucket must be capped; got ${out.mkString(", ")}")
  }

  test("q114: rates broadcast back; the keep decision shuffles nothing") {
    val df = queries.TextQueries.q114MixtureSample(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q114 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q114's per-source rate table must broadcast back:\n$plan")
    // the corpus must reach the rate join without being shuffled: a
    // SortMergeJoin/ShuffledHashJoin here would exchange the corpus
    // just to attach a 20-row dim (only the tiny per-source aggs and
    // the output sort may exchange)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"q114's rate join must not shuffle the corpus:\n$plan")
  }

  test("q115: per-term and per-doc aggs are partial; term join not cartesian") {
    val df = queries.TextQueries.q115UnigramNll(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q115 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"q115's tf/count aggs must be hash aggregates:\n$plan")
  }

  test("q116: centroids broadcast; the batch is never shuffled for assignment") {
    val df = queries.VectorQueries.q116IncrementalAnn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q116 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q116's frozen-centroid assignment must broadcast:\n$plan")
  }

  test("q126: block bitmaps broadcast; fact side never shuffled to be pruned") {
    val df = queries.MiscQueries.q126BloomPrune(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q126 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q126's block-bitmap and semi joins must broadcast:\n$plan")
    // the lineitem side must reach the bloom test and the semi join
    // without a shuffle: a sort-merge join would exchange the fact
    // table just to attach a 4 KB-per-block filter
    assert(!plan.contains("SortMergeJoin"),
      s"q126 must not shuffle the fact side:\n$plan")
  }

  test("q127: one scan, multi-distinct via Expand") {
    val df = queries.MiscQueries.q127ColumnProfile(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"q127's multi-count-distinct must plan one Expand, not N scans:\n$plan")
    // AQE's toString prints the final AND initial plans — count scans
    // in the final section only
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"q127 must read the table exactly once:\n$plan")
  }

  test("q128: histogram merge is a hash agg; no corpus-sized cartesian") {
    val df = queries.MiscQueries.q128QuantileSketch(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q128 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"q128's shard histograms must be partial hash aggregates:\n$plan")
  }

  test("q129: wedge and closing joins are equi joins") {
    val df = queries.DedupQueries.q129Triangles(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q129's triangle joins must stay equi joins on edge keys:\n$plan")
  }

  test("q130: latest-wins is one combinable agg — no window, no join") {
    val df = queries.EventQueries.q130ChangelogCompact(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q130 must not shuffle full history through a window:\n$plan")
    // struct max isn't hash-buffer-able, so Spark plans a
    // SortAggregate — the contract that matters at scale is the
    // map-side combine: a partial_max BEFORE the exchange, so the
    // shuffle carries per-user partials, never the event log
    assert(plan.contains("partial_max(struct"),
      s"q130's max(struct) must combine map-side:\n$plan")
    assert(!plan.contains("Join"),
      s"q130 must not join at all:\n$plan")
  }

  test("q131: symbol-count table broadcasts; corpus not shuffled for it") {
    val df = queries.NlpQueries.q131BpeEncode(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"q131's word → n_syms table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q131 must not shuffle the corpus to attach the vocab:\n$plan")
  }

  test("q132: anchors broadcast against the corpus scan") {
    val df = queries.VectorQueries.q132HardNegatives(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q132 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q132's anchor batch must broadcast:\n$plan")
  }

  test("q133: interval join stays an equi join on user; no cartesian") {
    val df = queries.EventQueries.q133Attribution(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q133's view-purchase pairing must join on user_id:\n$plan")
  }

  test("q134: the range window runs over the day dimension, post-agg") {
    val df = queries.MiscQueries.q134RollingRevenue(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the orders scan must aggregate to days BEFORE the window: a
    // Window directly over the scan would single-partition the corpus
    assert(plan.contains("Window") && plan.contains("HashAggregate"),
      s"q134 must aggregate to days then window:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.indexOf("Window") <
      finalPlan.lastIndexOf("HashAggregate"),
      s"q134's window must sit above the daily aggregate:\n$plan")
  }

  test("q136: one corpus scan; totals broadcast back") {
    val df = queries.PipelineQueries.q136DriftPsi(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"q136 must read the corpus exactly once:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q136's totals must come back via broadcast:\n$plan")
  }

  test("q137: brand dim broadcasts; moments are one combinable agg") {
    val df = queries.MiscQueries.q137GroupedOls(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"q137's part dim must broadcast:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q137's moments must combine map-side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q137 must not shuffle lineitem for the dim:\n$plan")
  }

  test("q138: cell id is map-side; one combinable groupBy, no join") {
    val df = queries.SourceQueries.q138ZorderLayout(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"q138 must not join at all:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"q138 must read orders exactly once:\n$plan")
  }

  test("q139: one scan, one combinable agg for both arms") {
    val df = queries.EventQueries.q139AbTest(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"q139 must read events exactly once (both arms via CASE):\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"q139's moments must combine map-side:\n$plan")
  }

  test("q141: centroid norms broadcast; scoring joins stay equi joins") {
    val df = queries.MlQueries.q141CentroidClassifier(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q141 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q141's n_docs/norms must broadcast:\n$plan")
  }

  test("q142: the dominance window runs over price LEVELS, post-agg") {
    val df = queries.MiscQueries.q142Skyline(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    // the orders scan must collapse to levels BEFORE the window
    assert(finalPlan.indexOf("Window") < finalPlan.lastIndexOf("HashAggregate"),
      s"q142's window must sit above the level aggregate:\n$plan")
    assert(!plan.contains("Join"), s"q142 must not join:\n$plan")
  }

  test("q108: the streaming verdict plan has no shuffle at all") {
    // batch-side check of the same verdict expression tree the stream
    // runs: stateless map-side columns only — any exchange before the
    // output sort means the stream would need state
    // direct read (not Tables): the pin asserts the OPERATOR adds no
    // exchange — Tables' adaptive scan-parallelize (round 17) would
    // legitimately insert one below it on the 1-row-group fixture
    val df = graft.streaming.CurationStream
      .verdict(spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "text"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"q108's verdict must be exchange-free (stateless stream):\n$plan")
  }

  test("q206: WAV pack->parse->features is map-side until the output sort") {
    // both codec hops are mapPartitions inside the same partition —
    // the payload column must never cross an exchange (at 100 TB the
    // container bytes stay where the text was read)
    // direct read — same rationale as the q108 pin above (round 17)
    val df = graft.operators.Multimodal.wavFrames(
      graft.operators.Multimodal.packWav(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"q206's pack->parse->features chain must be exchange-free:\n$plan")
  }

  // ---- round-9 pins: the session-2 additions (r8 verdict item 4) ----

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }
  private def finalPlan(plan: String): String =
    plan.split("== Initial Plan ==")(0)

  test("q20/q159: training rank windows rank IN-PLACE off the doc1-" +
      "partitioned pair cache — no per-pass re-shuffle (round 17)") {
    // the pair memos are hash-partitioned by doc1, a SUBSET of every
    // rank window's (grid point.., doc1) partition spec — so the
    // |pairs|×|grid| expansion must sort within partitions, never
    // exchange. A hashpartitioning carrying doc1 in the executed plan
    // means the layout was lost and every evaluation pass re-shuffles
    // the expanded frame (the pre-round-17 shape).
    // the window's re-shuffle would hash on (grid point.., doc1) — the
    // memo builds legitimately hash on doc1 alone (the pinned layout),
    // so the assertion keys on a point column and doc1 TOGETHER
    for (df <- Seq(queries.MatchingQueries.q20WeightGrid(spark, sf),
                   queries.MatchingQueries.k3Chain.grid(spark, sf))) {
      val plan = executed(df)
      assert("hashpartitioning\\((weight_id|n1)[^)]*doc1".r
          .findFirstIn(plan).isEmpty,
        s"rank window must not re-shuffle the pair frame by doc1:\n$plan")
    }
  }

  test("q121: edge cache reused per iteration, keyed by src; equi joins only") {
    val plan = executed(queries.MiscQueries.q121PageRank(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q121's rank-edge joins must be equi joins:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"q121 must iterate over the cached edge list, not rebuild it:\n$plan")
    // the cache is hash-repartitioned on src BEFORE persisting, so the
    // per-iteration join reuses that layout and only the rank frame
    // shuffles each iteration
    assert(plan.contains("hashpartitioning(src"),
      s"q121's edge cache must be keyed by src:\n$plan")
  }

  test("q124: funnel steps are combinable min-aggs; the lag window is post-agg") {
    val plan = executed(queries.EventQueries.q124Funnel(spark, sf))
    assert(!plan.contains("collect_list"),
      s"q124 must never materialize per-user event arrays:\n$plan")
    assert(plan.contains("partial_min"),
      s"q124's first-arrival times must combine map-side:\n$plan")
    val fp = finalPlan(plan)
    // the closing lag() runs over the 3 step rows, above the aggregates
    assert(fp.indexOf("Window") < fp.lastIndexOf("HashAggregate"),
      s"q124's conversion window must sit above the step aggregate:\n$plan")
  }

  test("q125: the event log collapses to user-days first; no window anywhere") {
    val plan = executed(queries.EventQueries.q125Retention(spark, sf))
    assert(!plan.contains("Window"),
      s"q125 must be aggregate-only (no per-user window):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q125's cohort join must be keyed:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"q125's distinct/min must combine map-side:\n$plan")
  }

  test("q144: chunking is one scan, no join, no window") {
    val plan = executed(queries.TextQueries.q144Chunking(spark, sf))
    assert(!plan.contains("Join"), s"q144 must not join:\n$plan")
    assert(!plan.contains("Window"), s"q144 must not window:\n$plan")
    assert("Scan parquet".r.findAllIn(finalPlan(plan)).size === 1,
      s"q144 must read documents exactly once:\n$plan")
  }

  test("q145: source signatures merge via the native partial minhash agg") {
    val plan = executed(queries.TextQueries.q145SourceSimilarity(spark, sf))
    // the monoid property is the scale claim: each shard ships 12 longs
    // per source (partial agg), not 12 rows per document
    assert(plan.contains("partial_graft_minhash_agg"),
      s"q145's source signatures must combine map-side:\n$plan")
    // AQE upgrades the initial cartesian to a broadcast NLJ once the
    // source dim's size is known — judge the FINAL plan
    assert(!finalPlan(plan).contains("CartesianProduct"),
      s"q145's pairwise stage must broadcast the source dim:\n$plan")
  }

  test("q146: profile moments combine map-side around the full-outer join") {
    val plan = executed(queries.MiscQueries.q146JoinHealth(spark, sf))
    assert(!plan.contains("Window"), s"q146 must not window:\n$plan")
    assert(plan.contains("partial_count"),
      s"q146's per-key counts must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q146's key join must stay keyed:\n$plan")
  }

  test("q147: totals broadcast back; the top-k window runs over vocab, post-agg") {
    val plan = executed(queries.TextQueries.q147DistinctiveTerms(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q147's term/source totals must broadcast:\n$plan")
    val fp = finalPlan(plan)
    assert(fp.indexOf("Window") < fp.lastIndexOf("HashAggregate"),
      s"q147's ranking window must sit above the (source,term) aggregate:\n$plan")
  }

  test("q148: decayed value is one scan, one combinable agg") {
    val plan = executed(queries.EventQueries.q148DecayedValue(spark, sf))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q148 must be a single aggregate over one scan:\n$plan")
    assert("Scan parquet".r.findAllIn(finalPlan(plan)).size === 1,
      s"q148 must read events exactly once:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q148's integer decay sum must combine map-side:\n$plan")
  }

  test("q149: RFM is two combinable aggs, no join, no window") {
    val plan = executed(queries.EventQueries.q149RfmSegments(spark, sf))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q149 must be aggregate-only:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q149's per-user roll-up must combine map-side:\n$plan")
  }

  test("q150: the cumulative window runs over day histogram rows, post-agg") {
    val plan = executed(queries.MiscQueries.q150LatencyPercentiles(spark, sf))
    val fp = finalPlan(plan)
    assert(fp.indexOf("Window") < fp.lastIndexOf("HashAggregate"),
      s"q150's cumulative curve must sit above the (priority,day) histogram:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q150's percentile probe must broadcast against the bounded curve:\n$plan")
  }

  test("q151: the purchase filter reaches the scan before the lag window") {
    val plan = executed(queries.EventQueries.q151ChurnRisk(spark, sf))
    // the lag window runs over the purchase SUBSET: the event_type
    // pushdown must reach the parquet scan, not sit above the window
    assert(plan.contains("PushedFilters") && plan.contains("purchase"),
      s"q151's purchase filter must push down to the scan:\n$plan")
    assert(plan.contains("Window"),
      s"q151 computes gaps with a per-user lag window:\n$plan")
  }

  test("q152: session assignment and outcome roll-up share one user shuffle") {
    val plan = executed(queries.EventQueries.q152SessionOutcomes(spark, sf))
    val fp = finalPlan(plan)
    // hashpartitioning(user_id) satisfies the (user_id, sess_id)
    // groupBy's clustered distribution, so the corpus shuffles ONCE
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(fp).size === 1,
      s"q152 must shuffle the event log exactly once, on user_id:\n$plan")
    assert(!plan.contains("Join"), s"q152 must not join:\n$plan")
  }

  test("q153: the power-law fit windows run over degree LEVELS, post-agg") {
    val plan = executed(queries.DedupQueries.q153DegreeDist(spark, sf))
    val fp = finalPlan(plan)
    assert(fp.indexOf("Window") < fp.lastIndexOf("HashAggregate"),
      s"q153's fit windows must sit above the degree-distribution aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q153 must not re-plan the degree subtree through a cartesian:\n$plan")
  }

  test("q154: the Gini windows run over length groups, post-agg; no join") {
    val plan = executed(queries.PipelineQueries.q154TokenGini(spark, sf))
    assert(!plan.contains("Join"), s"q154 must not join:\n$plan")
    val fp = finalPlan(plan)
    assert(fp.indexOf("Window") < fp.lastIndexOf("HashAggregate"),
      s"q154's cumsum windows must sit above the length-group aggregate:\n$plan")
  }

  test("q31/q74: LSH band width grows with the corpus (bucket depth pinned)") {
    // the round-9 quadratic fix pinned as code: fixed-width bands make
    // the q74 pair stage n²·bands/2^bits at ANY width — the width must
    // track log2(n) so the expected bucket stays ~TargetBucket deep
    assert(queries.VectorQueries.lshBits(100L) === 4)
    assert(queries.VectorQueries.lshBits(500L) === 5)
    assert(queries.VectorQueries.lshBits(2000L) === 7)
    assert(queries.VectorQueries.lshBits(60000L) === 12)
    assert(queries.VectorQueries.lshBits(1000000L) === 16)
    // beyond ~1M the width pins (48 shared plane literals) — shard the
    // LSH domain or take the IVF path there
    assert(queries.VectorQueries.lshBits(10000000000L) === 16)
    for (n <- Seq(100L, 500L, 2000L, 60000L, 1000000L))
      assert(n.toDouble / (1L << queries.VectorQueries.lshBits(n)) <= 16.0,
        s"expected bucket depth must stay pinned at n=$n")
  }

  test("q156: snapshot diff is one keyed full-outer join, aggregate-only") {
    val plan = executed(queries.SourceQueries.q156SnapshotDiff(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q156's snapshot join must stay keyed on doc_id:\n$plan")
    assert(!plan.contains("Window"), s"q156 must not window:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q156's summary cells must combine map-side:\n$plan")
  }

  test("q157: both retrieval legs broadcast their fixed query batch") {
    val plan = executed(queries.TextQueries.q157HybridRrf(spark, sf))
    assert(!finalPlan(plan).contains("CartesianProduct"),
      s"q157's legs must broadcast the fixed batch, never cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q157's query batch must broadcast against the corpus scans:\n$plan")
  }

  test("q158: k-means centroids broadcast; probed cells join keyed on cl") {
    val plan = executed(SparkEntry.queries("q158_ivf_kmeans")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q158 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q158's centroid probe must broadcast:\n$plan")
  }

  test("q121: iteration count is a parameter; lineage bounded past the checkpoint cadence") {
    // 12 iterations cross the localCheckpoint cadence twice: the final
    // plan must scan a checkpointed RDD instead of nesting 12 join+agg
    // towers (the unbounded-lineage failure a 30-iteration caller hits)
    val df = queries.MiscQueries.pageRank(spark, sf, iterations = 12)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"q121 at 12 iterations must truncate lineage via localCheckpoint:\n$plan")
    // the tail past the last checkpoint is at most the cadence deep
    val towers = "div outdeg".r.findAllIn(plan).length
    assert(towers <= queries.MiscQueries.prCheckpointCadence,
      s"post-checkpoint plan must hold <= cadence iteration towers, found $towers:\n$plan")
  }

  test("q159: simplex grid broadcasts; one distributed pass (window + combinable agg)") {
    val plan = executed(queries.MatchingQueries.k3Chain.grid(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q159's grid cross must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q159's 21-point grid must broadcast against the match table:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q159's error roll-up must combine map-side:\n$plan")
  }

  test("q160: every walker evaluation broadcasts its probe grid") {
    import org.apache.spark.sql.functions._
    val ps = queries.MatchingQueries.weightPairScores(spark, sf)
      .withColumn("s3", lit(50.0))
    val labels = ps.select(col("doc1"), col("doc2"),
      ((col("doc1") + col("doc2")) % 5 === 0).as("accepted"))
    val grid = graft.operators.WeightTraining.simplexGrid(spark, 3, 4)
    val df = graft.operators.WeightTraining
      .evaluateSimplex(ps, labels, grid, 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q160's per-round evaluation must broadcast the probe grid:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q160's probe grid must broadcast:\n$plan")
  }

  test("q156: exactly one join, and it is the keyed full outer") {
    val plan = finalPlan(executed(
      queries.SourceQueries.q156SnapshotDiff(spark, sf)))
    assert(plan.contains("FullOuter"),
      s"q156's diff must be a full outer join:\n$plan")
    val joins = "Join".r.findAllIn(plan).length
    assert(joins == 1, s"q156 must plan exactly one join, found $joins:\n$plan")
  }

  test("q157: fusion joins only dimension-sized lists — keyed, no corpus shuffle") {
    val plan = executed(queries.TextQueries.q157HybridRrf(spark, sf))
    assert(plan.contains("FullOuter"),
      s"q157's RRF fusion must be the keyed full outer of the two lists:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q157 must not cartesian anywhere:\n$plan")
  }

  test("q163: selection rounds are dimension-sized — static unroll, no cartesian, combinable maxsim") {
    val plan = executed(queries.VectorQueries.q163MmrRerank(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q163's pool/sim/selection joins must all be keyed or broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q163's query batch must broadcast against the corpus scan:\n$plan")
    assert(plan.contains("partial_max"),
      s"q163's max-sim-to-selected must combine map-side:\n$plan")
  }

  test("q162: component labels converge in single-digit rounds on the dup forest") {
    val df = queries.VectorQueries.q162EmbeddingDupClusters(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every component id is the minimum member (the canonical pick),
    // and `keep` marks exactly one survivor per cluster
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (comp, members) =>
      assert(members.map(_.getLong(0)).min == comp,
        s"component $comp must be its minimum member id")
      assert(members.count(_.getBoolean(3)) == 1,
        s"component $comp must keep exactly one survivor")
      assert(members.forall(_.getLong(2) == members.length),
        s"component $comp cluster_size mismatch")
    }
  }

  test("q161: trained weights fold to literals — serving adds no join over the pair frame") {
    // the Walker runs driver-side BEFORE the serving plan exists: the
    // final incumbent arrives as three literal doubles, so the serving
    // pass is the pair frame + a projection + the top-3 window — the
    // weight table NEVER joins the scoring side. Contract is relative:
    // q161's plan has exactly the joins the pair frame itself has
    // (which legitimately includes the scalar n_docs broadcast), zero
    // more, and nothing cartesians.
    def joins(p: String): Int = finalPlan(p).sliding(4).count(_ == "Join")
    val pairPlan = executed(
      queries.MatchingQueries.k3Chain.pairScores(spark, sf))
    val plan = executed(queries.MatchingQueries.k3Chain.serve(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q161 serving must not cartesian:\n$plan")
    assert(joins(plan) == joins(pairPlan),
      s"q161's weights must fold to literals, not join a grid " +
        s"(pair frame joins=${joins(pairPlan)}, serving joins=${joins(plan)}):\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"q161's top-3 must be the rank-pushed per-doc window:\n$plan")
  }

  test("q164: search is served from the persisted store, centroids broadcast") {
    val df = queries.VectorQueries.q164PersistedIndex(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the probe-2 search must READ the written artifacts — both index
    // files appear as parquet scans of the store path, proving a
    // reader process needs only the store, not the builder's lineage
    assert(plan.contains("ann_index/centroids") &&
      plan.contains("ann_index/assignments"),
      s"q164 must serve from the persisted parquet artifacts:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q164 must not plan a non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q164's centroid probe must broadcast the K-row dim:\n$plan")
  }

  test("q165: one per-source window; the corpus-derived quota broadcasts") {
    val plan = executed(queries.PipelineQueries.q165SourceQuota(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q165's quota scalar must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q165's 1-row quota must broadcast against the scored docs:\n$plan")
    // rank and source size share ONE window partition: exactly two
    // Window operators in the final plan, ADJACENT — no exchange (or
    // anything else) between them, so the corpus shuffles on source
    // once (the second source exchange in the plan is the quota's
    // 1-row count-distinct leg, not corpus data)
    val fp = finalPlan(plan)
    val windowParts = fp.split("Window \\[")
    assert(windowParts.length == 3,
      s"q165 must plan exactly two window operators:\n$plan")
    assert(!windowParts(1).contains("Exchange"),
      s"q165's two windows must share the one source exchange:\n$plan")
  }

  test("q167: inference is scan -> project — no join, no pre-sort exchange") {
    val plan = executed(queries.PipelineQueries.q167LinearQuality(spark, sf))
    // the frozen weight table exists as a hash FORMULA inside one
    // aggregate() HOF per row: the hot path must plan no join and no
    // hash exchange — the only shuffle is the presentation ORDER BY
    assert(!plan.contains("Join"),
      s"q167's weight lookup must be a formula, not a join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q167 must not shuffle before the presentation sort:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"q167's per-doc sum must run inside the row projection:\n$plan")
  }

  test("q166: per-dim bounds combine map-side and broadcast; codes never shuffle") {
    val plan = executed(SparkEntry.queries("q166_sq8_ann")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q166's bounds/batch joins must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q166's Dim-row bounds and ≤20-query batch must broadcast:\n$plan")
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"q166's per-dimension bounds must combine map-side:\n$plan")
  }

  test("q168: candidate generation is the banded equi self-join, never all-pairs") {
    val plan = executed(queries.VectorQueries.q168KnnGraph(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q168's bucket self-join must stay keyed on (band, key):\n$plan")
    // dedup of candidate pairs must combine map-side before the
    // cosine joins touch the embedding arrays
    assert(plan.contains("HashAggregate"),
      s"q168's pair dedup must be a hash aggregate:\n$plan")
  }

  test("q169: one combinable pass — single aggregate, no join, no window") {
    val plan = executed(queries.VectorQueries.q169EmbeddingProfile(spark, sf))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q169's profile must be one aggregation pass:\n$plan")
    assert(plan.contains("partial_min") && plan.contains("partial_max") &&
      plan.contains("partial_sum"),
      s"q169's moments must combine map-side:\n$plan")
  }

  test("q171: vote rounds shuffle ids+labels only — no embedding leaves the knn build") {
    val plan = executed(queries.VectorQueries.q171LabelProp(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q171's vote joins must stay keyed:\n$plan")
    assert(plan.contains("partial_count"),
      s"q171's vote count must combine map-side:\n$plan")
  }

  test("q172: metric roll-up is one combinable agg per method over batch-sized lists") {
    val plan = executed(SparkEntry.queries("q172_retrieval_metrics")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q172's truth joins must stay keyed or broadcast:\n$plan")
    assert(plan.contains("partial_sum") && plan.contains("partial_min"),
      s"q172's DCG/first-rel must combine map-side:\n$plan")
  }

  test("q173: codebook and ADC tables broadcast; candidate sum combines map-side") {
    val plan = executed(SparkEntry.queries("q173_pq_ann")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q173's codebook/ADC joins must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q173's M·Ks codebook and batch ADC tables must broadcast:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q173's ADC candidate sum must combine map-side:\n$plan")
    assert(plan.contains("partial_min"),
      s"q173's encode argmin must combine map-side (min(struct)):\n$plan")
  }

  test("q174: probes prune to NProbe cells; ADC join keyed on (cell, m, code)") {
    val plan = executed(SparkEntry.queries("q174_ivf_pq")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q174's centroid/codebook/ADC joins must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q174's ADC tables and codebooks must broadcast:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q174's ADC candidate sum must combine map-side:\n$plan")
    assert(plan.contains("partial_min"),
      s"q174's argmins must combine map-side (min(struct)):\n$plan")
  }

  test("q170: frozen centroids broadcast; histograms are K-row aggregates") {
    val plan = executed(queries.VectorQueries.q170EmbeddingDrift(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q170's centroid assignment must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q170's K-row centroid table must broadcast for both sides:\n$plan")
    assert(plan.contains("partial_min"),
      s"q170's per-vector argmin must combine map-side (min(struct)):\n$plan")
  }

  test("q175: SCD2 merge — keyed joins only, no cartesian, history unioned through") {
    val plan = executed(queries.EventQueries.q175Scd2Merge(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q175's open-version close must be a keyed join:\n$plan")
    assert(plan.contains("Union"),
      s"q175 must union closed history through untouched:\n$plan")
  }

  test("q176: FS-EM — params broadcast into each round, sums combine map-side") {
    // probe the pre-checkpoint chain: q176 itself localCheckpoints (its
    // executed plan is an RDD scan by design)
    val (pairs, out) = queries.MatchingQueries.fsTrajectory(spark, sf)
    val plan = try executed(out) finally pairs.unpersist()
    assert(!plan.contains("CartesianProduct"),
      s"q176's 1-row parameter frame must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q176's EM parameters must ride in as a broadcast:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q176's M-step sums must combine map-side:\n$plan")
  }

  test("q177: sorted-neighborhood — offsets broadcast, window join is an equi join") {
    val plan = executed(
      queries.MatchingQueries.q177SortedNeighborhood(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q177's rank-offset window join must be an equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q177's 67-row bucket-offset frame must broadcast:\n$plan")
  }

  test("q178: DBSCAN — bucket candidates equi-join, degree agg combines map-side") {
    // probe the pre-checkpoint chain (q178 itself localCheckpoints)
    val (sym, res) = queries.VectorQueries.dbscanChain(spark, sf)
    val plan = try executed(res) finally sym.unpersist()
    assert(!plan.contains("CartesianProduct"),
      s"q178's candidate generation must stay bucketed:\n$plan")
    assert(plan.contains("partial_count"),
      s"q178's degree count must combine map-side:\n$plan")
  }

  test("q179: weighted sample — distributed TakeOrdered, no global sort/window") {
    val df = queries.PipelineQueries.q179WeightedSample(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q179's top-K must be TakeOrdered (per-partition top-K + K-row merge):\n$plan")
  }

  test("q180: PCA — one combinable covariance pass; iterations are " +
      "dimension-sized driver arithmetic (round 17)") {
    // the distributed leg: the Dim²-row covariance accumulation must
    // combine map-side and never cartesian
    val plan = executed(queries.VectorQueries.pcaCovariance(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q180's covariance joins must broadcast, never cartesian:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q180's covariance accumulation must combine map-side:\n$plan")
    // the full query: iterations run on the collected integer matrix,
    // so the result plan is a local relation — result laws instead of
    // plan shape: unit-normalized eigenvector (Σ(v/1e6)² ≈ 1) and a
    // [0, 1000] explained-variance share
    val rows = queries.VectorQueries.q180PcaPower(spark, sf).collect()
    assert(rows.length === 64, "one row per embedding dimension")
    val norm2 = rows.map(r => math.pow(r.getLong(1) / 1e6, 2)).sum
    assert(math.abs(norm2 - 1.0) < 0.01,
      s"v3 must be unit-normalized, got |v|²=$norm2")
    val ev = rows.map(_.getLong(2)).distinct
    assert(ev.length === 1 && ev.head >= 0L && ev.head <= 1000L,
      s"explained-variance share must be one milli-value in [0,1000]: ${ev.toSeq}")
  }

  test("q182: TrustRank — seed flags broadcast, per-iteration sums combine map-side") {
    val plan = executed(queries.MiscQueries.q182TrustRank(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q182 must never plan a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q182's seed set must broadcast:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q182's contribution sums must combine map-side:\n$plan")
  }

  test("q183: calibration — map-side inference, combinable bin roll-ups") {
    val plan = executed(queries.MlQueries.q183Calibration(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q183's ECE frame must broadcast, never cartesian:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q183's bin aggregation must combine map-side:\n$plan")
  }

  test("q184: signal correlation — doc-keyed melt self-join, 16-row aggregate") {
    val plan = executed(queries.MiscQueries.q184SignalCorr(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q184's melt self-join must be doc-keyed:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q184's moment sums must combine map-side:\n$plan")
  }

  test("q185: FS match weights — per-field constants broadcast, combinable histogram") {
    // the exposed-chain pattern (q180/q178): assert the physical plan
    // of the pre-checkpoint chain, THEN the result-shape laws
    val (pairs, hist) = queries.MatchingQueries.fsWeightsChain(spark, sf)
    try {
      val plan = executed(hist)
      assert(!plan.contains("CartesianProduct"),
        s"q185's weight join must broadcast the 1-row constants:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"q185's per-field weight constants must broadcast:\n$plan")
      assert(plan.contains("partial_count"),
        s"q185's band histogram must combine map-side:\n$plan")
      val rows = hist.collect()
      assert(rows.length < 50, "weight histogram must be band-sized")
      val post = rows.map(r => (r.getLong(0), r.getLong(2)))
      assert(post.sortBy(_._1).map(_._2).sliding(2).forall(p =>
        p.length < 2 || p(0) <= p(1)),
        "posterior match probability must be monotone in the weight band")
    } finally pairs.unpersist()
  }

  test("q186: tombstone serve — exclusion before ranking, centroids broadcast") {
    val plan = executed(queries.VectorQueries.q186TombstoneServe(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q186's centroid probe must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q186's K-row centroid table must broadcast:\n$plan")
    // the tombstone predicate must prune the assignment scan (map-side
    // filter), not post-filter the ranked output
    assert(plan.contains("% 10) = 3") || plan.contains("% 10"),
      s"q186's tombstone filter must appear as a scan predicate:\n$plan")
  }

  test("q187: compaction report — one combinable aggregate, K rows out") {
    val plan = executed(queries.VectorQueries.q187CompactionReport(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q187 must not plan a cartesian:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q187's cell stats must combine map-side:\n$plan")
  }

  test("q188: matryoshka recall — query batch broadcast, grading is batch-sized joins") {
    val plan = executed(SparkEntry.queries("q188_matryoshka_recall")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q188's query batches must broadcast against the corpus scan:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"q188's recall grading must combine map-side:\n$plan")
  }

  test("q190: incremental CC — meta-graph joins keyed, no cartesian") {
    val plan = executed(queries.DedupQueries.q190IncrementalCc(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q190's label contraction must be keyed joins:\n$plan")
  }

  test("q191: triplets — anchor batches broadcast against corpus scans") {
    val plan = executed(
      queries.VectorQueries.q191ContrastiveTriplets(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q191's anchor batch must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q191 must never plan a non-broadcast cartesian:\n$plan")
  }

  test("q192: padding waste — map-side bucketing, one combinable groupBy") {
    val plan = executed(queries.PipelineQueries.q192PaddingWaste(spark, sf))
    assert(!plan.contains("Join"),
      s"q192 is one scan + one aggregate — no join belongs here:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q192's bucket stats must combine map-side:\n$plan")
  }

  test("q193: contamination matrix — doc-keyed source joins, combinable cells") {
    val plan = executed(
      queries.DedupQueries.q193SourceContamination(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q193's source joins must be doc-keyed:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q193's cell counts must combine map-side:\n$plan")
  }

  test("q194: multi-probe — bucketed candidate join, broadcast grading") {
    val plan = executed(SparkEntry.queries("q194_multiprobe_lsh")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q194's probe join must stay (band,key)-bucketed:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q194's recall grading must combine map-side:\n$plan")
  }

  test("q195: CDC chunking — per-doc windows, signature-keyed shuffle only") {
    val plan = executed(queries.PipelineQueries.q195CdcChunking(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q195's shared-chunk detector must be signature-keyed:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q195's chunk roll-ups must combine map-side:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"q195 must stay in plain HashAggregates (no collect/countDistinct fallback):\n$plan")
  }

  test("q196: slice metrics — map-side inference, combinable cell roll-up") {
    val plan = executed(queries.MlQueries.q196SliceMetrics(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q196 must not plan a cartesian:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q196's slice cells must combine map-side:\n$plan")
  }

  test("q197: dataset card — independent combinable aggregates, no cartesian") {
    val plan = executed(queries.PipelineQueries.q197DatasetCard(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q197's sections are independent aggregates:\n$plan")
    assert(plan.contains("Union"),
      s"q197 is a union of section frames:\n$plan")
  }

  test("q198: export manifest — one combinable aggregate per table, no join") {
    val plan = executed(queries.SourceQueries.q198ExportManifest(spark, sf))
    assert(!plan.contains("Join"),
      s"q198's checksums are per-table scans, no join belongs here:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q198's checksum sums must combine map-side:\n$plan")
  }

  test("q201: suffix dedup — keyed shuffles carry suffix keys, survivor counts combine map-side") {
    val plan = executed(queries.PipelineQueries.q201SuffixDedup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q201's doubling joins must stay keyed on (doc_id, pos):\n$plan")
    assert(plan.contains("partial_count"),
      s"q201's survivor counts must combine map-side (hot keys absorb):\n$plan")
    // the doubling filter: each level joins SURVIVORS, so the plan
    // must contain the level-8 semi join before the level-16 extend
    assert(plan.contains("LeftSemi"),
      s"q201's survivor restriction must be a semi join:\n$plan")
  }

  test("q202: dup-substring pairs — capped key join, two combinable roll-ups") {
    val plan = executed(queries.PipelineQueries.q202DupSubstringPairs(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q202's pair join must stay keyed on the 32-key:\n$plan")
    assert(plan.contains("partial_count"),
      s"q202's roll-ups must combine map-side:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"q202's hot-key cap must be the capBlocks semi join:\n$plan")
  }

  test("q204: group split — the zero-leakage law and the CC-keyed plan") {
    import org.apache.spark.sql.functions.col
    val assign = queries.DedupQueries.q204GroupSplit(spark, sf)
      .select("doc_id", "split")
    // THE law: no near-dup pair may straddle a split boundary —
    // q123 measures this failure on a doc-keyed split; q204 must
    // make it structurally impossible
    val pairs = queries.Shared.dupPairs(spark, sf)
      .select(col("doc1"), col("doc2"))
    val cross = pairs
      .join(assign.select(col("doc_id").as("doc1"),
        col("split").as("s1")), Seq("doc1"))
      .join(assign.select(col("doc_id").as("doc2"),
        col("split").as("s2")), Seq("doc2"))
      .filter(col("s1") =!= col("s2"))
      .count()
    assert(cross == 0L, s"$cross dup pairs straddle split boundaries")
    // every doc gets exactly one split; all three splits non-empty at
    // this corpus size
    val n = assign.count()
    assert(n == Tables.documents(spark, sf).count())
    val splits = assign.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"), splits.toString)
  }

  test("q155: changelog reconstruction is one combinable agg — no window, no join") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "view", 100L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, 0L),
      (1L, 11L, "click", 200L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 3L, 1L))
      .toDF("user_id", "last_event_id", "last_type", "last_value_cents",
        "last_ts", "n_changes", "epoch_id")
    val df = graft.streaming.EventStream.snapshotFromLog(log)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"q155's latest-epoch-wins must be a single max(struct) agg:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 11L)), "latest epoch must win")
  }
}
