package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Shared

/** Family-clustered sweep order for multi-query harnesses, and the one
  * [[sweep]] loop that runs a query list in it (Bench, Verify,
  * PlanDump, QueriesSpec).
  *
  * The round-14 sf10 run measured WHY order matters: the ~31 GiB
  * matchPairs/partScores family exceeds any reasonable cache budget
  * together with the other memo families, and its consumers were
  * scattered across the alphabetical sweep (q13…q20, then q43/q44,
  * then q72, then q159–161, then q199–203) — so the budget evicted
  * and the consumers rebuilt it ~15 times (101 evictions, 2.54×
  * like-for-like). Running each memo family's consumers CONTIGUOUSLY
  * bounds rebuilds to at most one per family regardless of budget,
  * which is exactly how a user would schedule a multi-query session
  * over shared intermediates.
  *
  * A query's group is DERIVED from [[memoConsumers]] (which queries
  * read which memo family; QueriesSpec checks it against the touch log
  * of an sf0.001 sweep) and [[familyGroup]]: each group is the
  * consumer set of one cache-family cluster. Queries touching no memo
  * run last (their transients are retired per-query, so they exert no
  * cache pressure on anyone).
  *
  * Group order runs the most expensive family FIRST, straight after
  * the warm pass builds it, so the big frames are consumed while
  * fresh and can be evicted (cheapest-per-byte first) once their
  * cluster ends.
  */
object SweepOrder {

  /** Memo family → sweep group, by position: 0 match (the quadratic
    * match chain), 1 text dedup, 2 vector, 3 the small graph/vocab
    * families. The text families' consumer sets overlap (q59, q93,
    * q111 and q197 read two of the three), so they schedule as one
    * block. */
  private val familyGroup: Map[String, Int] = Seq(
    Seq("partCands", "partScores", "partSuppScores", "pivotedScores",
      "pairScores2", "pairScores3", "pairScores6", "k3walk", "k6walk"),
    Seq("dupPairs", "simhashes", "shingleTf3"),
    Seq("lshBuckets", "candCosines", "knnEdges", "kmeans", "pqCodebook",
      "pqCodes", "ivfpqBook", "ivfpqCodes", "mmrCands", "mmrSims",
      "cosineWeights", "mlMinhashTf", "annBrute", "annLsh", "annIvfFlat",
      "annIvfKmeans", "annSq8", "annPq", "annIvfpq", "annMlsh", "annMrl"),
    Seq("prEdges", "bpeVocab"))
    .zipWithIndex.flatMap { case (fams, g) => fams.map(_ -> g) }.toMap

  // lazy: memoConsumers is declared below — a strict val here reads
  // null during object init. A family missing from familyGroup fails
  // here, loudly, at first use.
  private lazy val queryGroup: Map[String, Int] =
    memoConsumers.toSeq
      .flatMap { case (fam, qs) => qs.map(_ -> familyGroup(fam)) }
      .groupMapReduce(_._1)(_._2)(math.min)

  // total on ANY name: one not shaped q<digits>… sorts last instead
  // of throwing NumberFormatException out of a harness's startup sort
  // (ADVICE r15 — "".toInt)
  private def numericId(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toIntOption.getOrElse(Int.MaxValue)

  /** Memo-family group of a query name (0 match, 1 text, 2 vector,
    * 3 graph, 4 none): the lowest group among the families it reads.
    * The staged warm pass builds group g's cache families right before
    * its first query runs. */
  def group(name: String): Int = queryGroup.getOrElse(name, 4)

  /** Derivation depth of a memo family — how long the rebuild chain
    * under it is ([[graft.queries.Shared.derivedFrom]]): partCands 0,
    * partScores 1, pivotedScores 2, … Deeper chain = costlier rebuild
    * class, without hand-coding per-family sizes here. */
  private def chainDepth(fam: String): Int = {
    val hits = queries.Shared.derivedFrom
      .filter { case (p, _) => fam.startsWith(p) }
    if (hits.isEmpty) 0
    else 1 + hits.maxBy(_._1.length)._2.map(chainDepth).max
  }

  /** Queries that are the SOLE consumer of some memo family, mapped to
    * the deepest chain depth among those families. DERIVED from
    * [[memoConsumers]] + the derivation edges, not hand-picked
    * (VERDICT r16 item 1): a family with exactly one consumer should
    * have that consumer OPEN its cluster, so the scheduler releases
    * the frame after the very first query instead of holding it
    * resident across the whole cluster — at sf10 the ~25 GiB
    * pivotedScores plus the score tables together exceed a 40 GiB
    * budget, and in numeric order that residency forced the one
    * round-15 eviction. Deeper-chain (costlier-rebuild-class) openers
    * run first, so q19 opens the match cluster as a CONSEQUENCE; the
    * next big single-consumer frame gets the release-early treatment
    * automatically when its family lands in [[memoConsumers]]. */
  // lazy: memoConsumers is declared below — a strict val here reads
  // null during object init
  private[graft] lazy val openerDepth: Map[String, Int] =
    memoConsumers.toSeq
      .collect { case (fam, qs) if qs.size == 1 => qs.head -> chainDepth(fam) }
      .groupMapReduce(_._1)(_._2)(math.max)

  /** Sort key: (family group, opener flag, −opener depth, numeric id).
    * Sole-consumer openers lead their group, deepest chain first; ties
    * and everything else run in numeric order; queries touching no
    * memo family run last. */
  def key(name: String): (Int, Int, Int, Int) = {
    val id = numericId(name)
    openerDepth.get(name) match {
      case Some(d) => (group(name), 0, -d, id)
      case None    => (group(name), 1, 0, id)
    }
  }

  def sort[T](qs: Seq[(String, T)]): Seq[(String, T)] =
    qs.sortBy { case (n, _) => key(n) }

  /** Memo-key prefix → its consumer queries (prefixes because
    * parameterized keys carry scale-derived suffixes, e.g. kmeans⟨K⟩);
    * [[group]] and [[releaseSchedule]] derive from it. This is the
    * scheduler's knowledge the byte budget cannot infer: once a
    * family's LAST scheduled consumer has run, its frames are dead
    * weight no matter how expensive they were to build — Bench/Verify
    * release them right there ([[graft.queries.Shared.releaseMemo]]),
    * so the budget never has to choose between a dead expensive
    * family and a live cheap one. A drifted entry (a new query
    * consuming a released family) costs one visible rebuild, never a
    * wrong answer. QueriesSpec fails on any touch not declared here. */
  val memoConsumers: Map[String, Set[String]] = Map(
    // round-18 families: the shared candidate-cosine verifier frame
    // and the memoized ANN search legs (each leg = its standalone
    // query + the graders that re-read it)
    "candCosines" -> Set("q74_embedding_dups",
      "q162_embedding_dup_clusters", "q168_knn_graph",
      "q171_label_prop", "q178_dbscan"),
    "annBrute" -> Set("q30_knn_brute", "q118_ann_recall",
      "q172_retrieval_metrics", "q188_matryoshka_recall",
      "q194_multiprobe_lsh"),
    "annLsh" -> Set("q31_knn_lsh", "q118_ann_recall",
      "q172_retrieval_metrics", "q194_multiprobe_lsh"),
    "annIvfFlat" -> Set("q70_ivf_ann", "q118_ann_recall",
      "q172_retrieval_metrics"),
    "annIvfKmeans" -> Set("q158_ivf_kmeans", "q118_ann_recall",
      "q172_retrieval_metrics"),
    "annSq8" -> Set("q166_sq8_ann", "q118_ann_recall",
      "q172_retrieval_metrics"),
    "annPq" -> Set("q173_pq_ann", "q118_ann_recall",
      "q172_retrieval_metrics"),
    "annIvfpq" -> Set("q174_ivf_pq", "q118_ann_recall",
      "q172_retrieval_metrics"),
    "annMlsh" -> Set("q194_multiprobe_lsh", "q172_retrieval_metrics"),
    "annMrl" -> Set("q188_matryoshka_recall", "q172_retrieval_metrics"),
    "knnEdges" -> Set("q168_knn_graph", "q171_label_prop"),
    "bpeVocab" -> Set("q119_bpe_merges", "q131_bpe_encode"),
    "cosineWeights" -> Set("q29_cosine_shingles"),
    "dupPairs" -> Set("q105_survivorship", "q111_curation_report",
      "q123_split_leakage", "q129_triangles", "q153_degree_dist",
      "q190_incremental_cc", "q193_source_contamination",
      "q197_dataset_card", "q204_group_split", "q26_lsh_dup_pairs",
      "q36_connected_components", "q59_level2_hamming",
      "q93_curation_pipeline"),
    "ivfpqBook" -> Set("q118_ann_recall", "q172_retrieval_metrics",
      "q174_ivf_pq"),
    "ivfpqCodes" -> Set("q118_ann_recall", "q172_retrieval_metrics",
      "q174_ivf_pq"),
    "k3walk" -> Set("q160_weight_refine_k3", "q161_trained_total"),
    "k6walk" -> Set("q200_weight_refine_k6", "q203_trained_total_k6"),
    "kmeans" -> Set("q106_semdedup", "q118_ann_recall",
      "q158_ivf_kmeans", "q164_persisted_index",
      "q172_retrieval_metrics", "q174_ivf_pq", "q186_tombstone_serve",
      "q187_compaction_report", "q82_kmeans"),
    "lshBuckets" -> Set("q118_ann_recall", "q162_embedding_dup_clusters",
      "q168_knn_graph", "q171_label_prop", "q172_retrieval_metrics",
      "q178_dbscan", "q194_multiprobe_lsh", "q31_knn_lsh",
      "q74_embedding_dups"),
    "mlMinhashTf" -> Set("q57_ml_minhash"),
    "mmrCands" -> Set("q163_mmr_rerank"),
    "mmrSims" -> Set("q163_mmr_rerank"),
    "pairScores2" -> Set("q20_weight_grid", "q72_weight_refine"),
    // q160 reads the memoized k3 walk since round 17; q161 still reads
    // the score table directly for serving
    "pairScores3" -> Set("q159_weight_grid_k3", "q161_trained_total"),
    "pairScores6" -> Set("q199_weight_grid_k6", "q203_trained_total_k6"),
    "partCands" -> Set("q13_entity_candidates"),
    "partScores" -> Set("q14_entity_scores", "q15_type_filter",
      "q16_date_filter", "q17_multitype_filter", "q18_match_stats",
      "q43_total_score", "q44_pair_dedup", "q71_rank_eval",
      "q94_matcher_pipeline"),
    "partSuppScores" -> Set("q17_multitype_filter", "q43_total_score",
      "q94_matcher_pipeline"),
    // q20/q72 consume the memoized pairScores2 INTERSECTION since
    // round 16, leaving q19 as the pivot's only consumer — so the
    // ~25 GiB (sf10) frame releases at the cluster's start instead of
    // sitting resident until q72
    "pivotedScores" -> Set("q19_score_pivot"),
    "pqCodebook" -> Set("q118_ann_recall", "q172_retrieval_metrics",
      "q173_pq_ann"),
    "pqCodes" -> Set("q118_ann_recall", "q172_retrieval_metrics",
      "q173_pq_ann"),
    "prEdges" -> Set("q121_pagerank", "q182_trustrank"),
    "shingleTf3" -> Set("q111_curation_report", "q197_dataset_card",
      "q49_rare_words", "q50_sentence_runs",
      "q81_boilerplate_coverage", "q93_curation_pipeline"),
    "simhashes" -> Set("q27_simhash", "q45_hamming_pairs",
      "q59_level2_hamming"))

  /** index → memo-key prefixes whose last consumer in `order` sits at
    * that index: the sweep releases them right after running it. */
  def releaseSchedule(order: Seq[String]): Map[Int, Seq[String]] = {
    val idx = order.zipWithIndex.toMap
    memoConsumers.toSeq
      .flatMap { case (prefix, qs) =>
        val hits = qs.flatMap(idx.get)
        if (hits.isEmpty) None else Some(prefix -> hits.max)
      }
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
  }

  /** What one [[sweep]] did: each query's action result or failure, in
    * run order, and the staged warm's wall seconds and whether every
    * group built. */
  final case class Swept[R](results: Seq[(String, Either[Throwable, R])],
                            warmSec: Double, warmOk: Boolean)

  /** Run `qs` the way one user session over shared memos runs them: in
    * clustered order; on a `full` sweep, each warmable group's memo
    * families built right before its first query (a family occupies
    * cache budget only across its own consumer cluster, and a derived
    * family left to build lazily AFTER its parent's release would
    * silently rebuild the parent) and a GC at each group boundary
    * (deleted shuffle files stay mmap'd until a GC; at sf10 that
    * transient ran df 20–40 G above du); then per query, `action` on
    * the query's frame builder, and the cache retirement: the query's
    * transients, every family whose last consumer it was, and the byte
    * budget (without it a 207-query sf10 sweep accumulated ~55 G of
    * dead blocks). Subset runs skip warm and GC, so a replayed query
    * builds only what it reads and carries no pause production queries
    * never see. A failed warm degrades to lazy builds; a failed query
    * is recorded and the sweep goes on. Both print their cause on
    * stderr after `log`. */
  def sweep[R](spark: SparkSession, dir: String,
               qs: Seq[(String, (SparkSession, String) => DataFrame)],
               full: Boolean, log: String)
              (action: (String, () => DataFrame) => R): Swept[R] = {
    def cause(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"
    val order = sort(qs)
    val releaseAt = releaseSchedule(order.map(_._1))
    var warmSec = 0.0
    var warmOk = true
    var prevGroup = -1
    val results = order.zipWithIndex.map { case ((name, fn), i) =>
      // the order is clustered: a group change is the group's first query
      val g = group(name)
      if (full && g != prevGroup) {
        if (prevGroup >= 0) System.gc()
        if (Shared.warmable(g)) {
          // warm builds are unattributed in the touch report
          Shared.beginQuery("")
          val t0 = System.nanoTime()
          try Shared.warmGroup(spark, dir, g) catch { case e: Throwable =>
            warmOk = false
            System.err.println(s"$log cache_build group $g failed: ${cause(e)}")
          }
          warmSec += (System.nanoTime() - t0) / 1e9
          System.err.println(f"$log cache_build group $g, cum $warmSec%.1f s")
        }
      }
      prevGroup = g
      Shared.beginQuery(name)
      val r = try Right(action(name, () => fn(spark, dir)))
        catch { case e: Throwable =>
          System.err.println(s"$log $name failed: ${cause(e)}")
          Left(e)
        }
      Shared.retireTransients()
      releaseAt.getOrElse(i, Nil).foreach(Shared.releaseMemo)
      Shared.enforceBudget(spark)
      name -> r
    }
    Shared.beginQuery("")
    Swept(results, warmSec, warmOk)
  }
}
