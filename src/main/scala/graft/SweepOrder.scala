package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Shared

/** Family-clustered sweep order for multi-query harnesses, and the one
  * [[sweep]] loop that runs a query list in it (Bench, Verify,
  * PlanDump, QueriesSpec).
  *
  * The round-14 sf10 run measured WHY order matters: the consumers of
  * the ~31 GiB matchPairs/partScores family were scattered across the
  * alphabetical sweep (q13…q20, then q43/q44, then q72, then q159–161,
  * then q199–203) — so that round's 24 GiB cache budget evicted it
  * between them and they rebuilt it ~15 times (101 evictions, 2.54×
  * like-for-like). Running each memo family's consumers CONTIGUOUSLY
  * and releasing the family after its last one bounds residency to
  * the live cluster and rebuilds to none, which is exactly how a user
  * would schedule a multi-query session over shared intermediates.
  *
  * Every fact about a memo family lives in one [[Family]] row of
  * [[families]]; a query's group, the cluster openers and the release
  * schedule all derive from those rows. QueriesSpec checks the
  * consumer sets against the touch log of an sf0.001 sweep. Queries
  * touching no memo run last (their transients are retired per-query,
  * so they exert no cache pressure on anyone).
  *
  * Group order runs the most expensive family FIRST, straight after
  * the warm pass builds it, so the big frames are consumed while
  * fresh and released as soon as their last consumer is done.
  */
object SweepOrder {

  /** Sweep groups, in run order: the quadratic match chain, text
    * dedup, vector, the small graph/vocab families; queries reading no
    * memo family form group 4. The text families' consumer sets
    * overlap (q59, q93, q111 and q197 read two of the three), so they
    * schedule as one block. */
  final val Match = 0
  final val Text = 1
  final val Vector = 2
  final val Graph = 3

  /** One memo family: the key-name `prefix` its `Shared.memoized` keys
    * start with (parameterized keys carry scale-derived suffixes —
    * "kmeans" covers "kmeans8"), its sweep `group`, the `parents`
    * whose frames its build reads, and the `consumers` that read it. */
  final case class Family(prefix: String, group: Int, parents: Seq[String],
                          consumers: Set[String])

  /** The memo families. A drifted consumer set (a new query reading a
    * released family) costs one visible rebuild, never a wrong answer;
    * QueriesSpec fails on any touch not declared here, SweepOrderSpec
    * on a lazily built family with a consumer one of its parents does
    * not declare, and on one prefix starting another (a release would
    * drop the live sibling). */
  val families: Seq[Family] = Seq(
    Family("partCands", Match, Nil, Set("q13_entity_candidates")),
    Family("partSuppScores", Match, Nil, Set("q17_multitype_filter",
      "q43_total_score", "q94_matcher_pipeline")),
    Family("partScores", Match, Seq("partCands"), Set("q14_entity_scores",
      "q15_type_filter", "q16_date_filter", "q17_multitype_filter",
      "q18_match_stats", "q43_total_score", "q44_pair_dedup",
      "q71_rank_eval", "q94_matcher_pipeline")),
    // q20/q72 consume the memoized pairScores2 INTERSECTION since
    // round 16, leaving q19 as the pivot's only consumer — so the
    // ~25 GiB (sf10) frame releases at the cluster's start instead of
    // sitting resident until q72
    Family("pivotedScores", Match, Seq("partScores", "partSuppScores"),
      Set("q19_score_pivot")),
    // k=3/k=6 consumers may build their tables from it (small to hold)
    Family("pairScores2", Match, Seq("pivotedScores"), Set("q20_weight_grid",
      "q72_weight_refine", "q159_weight_grid_k3", "q160_weight_refine_k3",
      "q161_trained_total", "q199_weight_grid_k6", "q200_weight_refine_k6",
      "q203_trained_total_k6")),
    Family("pairScores3", Match, Seq("pairScores2"), Set("q159_weight_grid_k3",
      "q160_weight_refine_k3", "q161_trained_total")),
    Family("pairScores6", Match, Seq("pairScores2"), Set("q199_weight_grid_k6",
      "q200_weight_refine_k6", "q203_trained_total_k6")),
    Family("k3walk", Match, Seq("pairScores3"), Set("q160_weight_refine_k3",
      "q161_trained_total")),
    Family("k6walk", Match, Seq("pairScores6"), Set("q200_weight_refine_k6",
      "q203_trained_total_k6")),
    Family("dupPairs", Text, Nil, Set("q105_survivorship",
      "q111_curation_report", "q123_split_leakage", "q129_triangles",
      "q153_degree_dist", "q190_incremental_cc", "q193_source_contamination",
      "q197_dataset_card", "q204_group_split", "q26_lsh_dup_pairs",
      "q36_connected_components", "q59_level2_hamming",
      "q93_curation_pipeline")),
    Family("simhashes", Text, Nil, Set("q27_simhash", "q45_hamming_pairs",
      "q59_level2_hamming")),
    Family("shingleTf3", Text, Nil, Set("q111_curation_report",
      "q197_dataset_card", "q49_rare_words", "q50_sentence_runs",
      "q81_boilerplate_coverage", "q93_curation_pipeline")),
    Family("lshBuckets", Vector, Nil, Set("q118_ann_recall",
      "q162_embedding_dup_clusters", "q168_knn_graph", "q171_label_prop",
      "q172_retrieval_metrics", "q178_dbscan", "q194_multiprobe_lsh",
      "q31_knn_lsh", "q74_embedding_dups")),
    // round-18 families: the shared candidate-cosine verifier frame
    // and the memoized ANN search legs (each leg = its standalone
    // query + the graders that re-read it)
    Family("candCosines", Vector, Seq("lshBuckets"), Set("q74_embedding_dups",
      "q162_embedding_dup_clusters", "q168_knn_graph", "q171_label_prop",
      "q178_dbscan")),
    Family("knnEdges", Vector, Seq("candCosines"), Set("q168_knn_graph",
      "q171_label_prop")),
    Family("kmeans", Vector, Nil, Set("q106_semdedup", "q118_ann_recall",
      "q158_ivf_kmeans", "q164_persisted_index", "q172_retrieval_metrics",
      "q174_ivf_pq", "q186_tombstone_serve", "q187_compaction_report",
      "q82_kmeans")),
    Family("pqCodebook", Vector, Nil, Set("q118_ann_recall",
      "q172_retrieval_metrics", "q173_pq_ann")),
    Family("pqCodes", Vector, Seq("pqCodebook"), Set("q118_ann_recall",
      "q172_retrieval_metrics", "q173_pq_ann")),
    Family("ivfpqBook", Vector, Seq("kmeans"), Set("q118_ann_recall",
      "q172_retrieval_metrics", "q174_ivf_pq")),
    Family("ivfpqCodes", Vector, Seq("ivfpqBook", "kmeans"),
      Set("q118_ann_recall", "q172_retrieval_metrics", "q174_ivf_pq")),
    Family("mmrCands", Vector, Nil, Set("q163_mmr_rerank")),
    Family("mmrSims", Vector, Nil, Set("q163_mmr_rerank")),
    Family("cosineWeights", Vector, Nil, Set("q29_cosine_shingles")),
    Family("mlMinhashTf", Vector, Nil, Set("q57_ml_minhash")),
    Family("annBrute", Vector, Nil, Set("q30_knn_brute", "q118_ann_recall",
      "q172_retrieval_metrics", "q188_matryoshka_recall",
      "q194_multiprobe_lsh")),
    Family("annLsh", Vector, Seq("lshBuckets"), Set("q31_knn_lsh",
      "q118_ann_recall", "q172_retrieval_metrics", "q194_multiprobe_lsh")),
    Family("annIvfFlat", Vector, Nil, Set("q70_ivf_ann", "q118_ann_recall",
      "q172_retrieval_metrics")),
    Family("annIvfKmeans", Vector, Seq("kmeans"), Set("q158_ivf_kmeans",
      "q118_ann_recall", "q172_retrieval_metrics")),
    Family("annSq8", Vector, Nil, Set("q166_sq8_ann", "q118_ann_recall",
      "q172_retrieval_metrics")),
    Family("annPq", Vector, Seq("pqCodes"), Set("q173_pq_ann",
      "q118_ann_recall", "q172_retrieval_metrics")),
    Family("annIvfpq", Vector, Seq("ivfpqCodes", "kmeans"), Set("q174_ivf_pq",
      "q118_ann_recall", "q172_retrieval_metrics")),
    Family("annMlsh", Vector, Seq("lshBuckets"), Set("q194_multiprobe_lsh",
      "q172_retrieval_metrics")),
    Family("annMrl", Vector, Nil, Set("q188_matryoshka_recall",
      "q172_retrieval_metrics")),
    Family("prEdges", Graph, Nil, Set("q121_pagerank", "q182_trustrank")),
    Family("bpeVocab", Graph, Nil, Set("q119_bpe_merges", "q131_bpe_encode")))

  private val byPrefix: Map[String, Family] =
    families.map(f => f.prefix -> f).toMap

  private val queryGroup: Map[String, Int] = families
    .flatMap(f => f.consumers.map(_ -> f.group))
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
    * under it is: partCands 0, partScores 1, pivotedScores 2, …
    * Deeper chain = costlier rebuild class, without hand-coding
    * per-family sizes here. */
  private def chainDepth(f: Family): Int =
    if (f.parents.isEmpty) 0
    else 1 + f.parents.map(p => chainDepth(byPrefix(p))).max

  /** Queries that are the SOLE consumer of some memo family, mapped to
    * the deepest chain depth among those families. DERIVED from
    * [[families]], not hand-picked (VERDICT r16 item 1): a family with
    * exactly one consumer should have that consumer OPEN its cluster,
    * so the scheduler releases the frame after the very first query
    * instead of holding it resident across the whole cluster — at sf10
    * the ~25 GiB pivotedScores plus the score tables together exceed a
    * 40 GiB budget, and in numeric order that residency forced the one
    * round-15 eviction. Deeper-chain (costlier-rebuild-class) openers
    * run first, so q19 opens the match cluster as a CONSEQUENCE; the
    * next big single-consumer frame gets the release-early treatment
    * automatically when its row lands in [[families]]. */
  private[graft] val openerDepth: Map[String, Int] = families
    .collect { case f if f.consumers.size == 1 => f.consumers.head -> chainDepth(f) }
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

  /** index → memo-key prefixes whose last consumer in `order` sits at
    * that index: the sweep releases them right after running it
    * ([[graft.queries.Shared.releaseMemo]]). */
  def releaseSchedule(order: Seq[String]): Map[Int, Seq[String]] = {
    val idx = order.zipWithIndex.toMap
    families
      .flatMap { f =>
        val hits = f.consumers.flatMap(idx.get)
        if (hits.isEmpty) None else Some(f.prefix -> hits.max)
      }
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
  }

  /** What one [[sweep]] did: each query's action result or failure, in
    * run order, and the staged warm's wall seconds and whether every
    * group built. */
  final case class Swept[R](results: Seq[(String, Either[Throwable, R])],
                            warmSec: Double, warmOk: Boolean)

  /** Run `qs` the way one user session over shared memos runs them: in
    * clustered order; on a `full` sweep, each warmable group's
    * release-critical memo families ([[Shared.warmGroup]]: those whose
    * parent the sweep may release before their first consumer) built
    * right before its first query, every other family at its first
    * consumer, and a GC at each group boundary
    * (deleted shuffle files stay mmap'd until a GC; at sf10 that
    * transient ran df 20–40 G above du); then per query, `action` on
    * the query's frame builder, and the cache retirement: the query's
    * transients and every family whose last consumer it was. Subset
    * runs skip warm and GC, so a replayed query builds only what it
    * reads and carries no pause production queries never see. A
    * failed warm degrades to lazy builds; a failed query
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
      name -> r
    }
    Shared.beginQuery("")
    Swept(results, warmSec, warmOk)
  }
}
