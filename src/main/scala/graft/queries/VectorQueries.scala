package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Exact.{micro, r6}
import graft.operators.VectorSearch
import graft.operators.VectorSearch._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline,
  * random-hyperplane LSH bucketing as the scale path, and elementwise
  * centroid aggregation. The query set is the deterministic slice
  * `vec_id % 50 = 0 AND vec_id < QBatchMax` — a FIXED-SIZE batch
  * (≤ [[QBatchMax]]/50 = 20 queries at any corpus size), playing the
  * "batch of search requests" role. A search workload does not grow
  * with the corpus (the q107 BM25 principle, TextQueries.scala): an
  * uncapped `% 50` slice would make the q30 brute leg O(n²/50) by
  * construction — the exact quadratic the cap on q107 removed — and
  * recall evaluation at scale samples a fixed batch anyway (cheaper
  * and statistically sufficient).
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private val Dim = 64
  private val NProbe = 2
  private val MinDupCosine = 0.3

  // ---- corpus-derived LSH resolution --------------------------------
  // The round-9 sf3 sweep measured the fixed-resolution design's
  // quadratic: with 4-bit bands there are only 16 buckets per band at
  // ANY corpus size, so at n=60k every bucket held ~3750 vectors and
  // the q74 pair stage evaluated ~n²·bands/2^bits cosines (668 s at
  // sf3, 5.8M output pairs — mostly sub-threshold random collisions).
  // Standard LSH theory says the key width must grow with log2(n) to
  // keep the random-collision rate constant, so — exactly like q106's
  // corpus-derived K — the band width is DERIVED from the corpus:
  // bits = min b in [MinBits, MaxBits] with TargetBucket·2^b ≥ n, so
  // the expected bucket holds ~TargetBucket vectors at every scale and
  // the pair stage is O(n·TargetBucket·bands), linear in the corpus.
  // Beyond TargetBucket·2^MaxBits (~1M) vectors the width pins at
  // MaxBits (the plane table stays 48 literals shared with the oracle)
  // and the right scale move is sharding the LSH domain or the q70
  // IVF path. Derivation is integer-only (a threshold ladder — no
  // float log2 whose rounding could differ between engines) and the
  // oracle replays it from the same count(*).
  // Bands raised 3 → 8 in round 10 to buy back the recall the
  // derived band width spent (RECALL.md: lsh recall@5 fell 270 → 100‰
  // at sf0.1 when bits went corpus-derived). Collision probability
  // per true neighbour is linear in bands at fixed width (6 bands
  // measured 230‰ at sf0.1, 8 bands clears the pre-fix 270‰), while
  // the pair stage stays O(n·TargetBucket·bands) — linear in the
  // corpus, just 8/3× the constant (measured: see the round-10
  // RECALL.md / BASELINE.md rows). This is the engine's analogue of
  // the reference's tunable numHashTables=3
  // (`matching/matcher/PictureMatcher.scala:54-68`).
  private val Bands = 8
  private val MinBits = 4
  private val MaxBits = 16
  private val TargetBucket = 16L

  /** LSH band width for an `n`-vector corpus. Package-visible for the
    * plan-contract spec. */
  private[graft] def lshBits(n: Long): Int =
    (MinBits until MaxBits).find(b => n <= (TargetBucket << b))
      .getOrElse(MaxBits)

  /** The same derivation as a DuckDB/Spark-SQL CASE ladder over
    * integer thresholds. */
  private def lshBitsSql(nExpr: String): String =
    (MinBits until MaxBits)
      .map(b => s"WHEN $nExpr <= ${TargetBucket << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE $MaxBits END")

  /** Shared, fixed hyperplanes for the maximum resolution
    * (Bands × MaxBits = 128) — the same literal values are embedded in
    * the oracle SQL, so Spark and DuckDB run the same projection; a
    * smaller derived width uses the prefix `h < Bands · bits`. */
  private val planes: Seq[Seq[Double]] =
    VectorSearch.hyperplanes(Bands * MaxBits, Dim, seed = 42L)

  /** Materialize the LSH buckets and the candidate-cosine frame that
    * five consumers (q74/q162/q168/q171/q178) share, so their build
    * lands in `cache_build`, not on whichever consumer runs first.
    * Every other vector family builds at its first consumer. */
  private[queries] def warmShared(s: SparkSession, dir: String): Unit = {
    bucketsOf(s, dir)._1.count()
    candCosines(s, dir).count()
  }

  /** (band, key) buckets for the whole corpus at the corpus-derived
    * resolution; `bits` comes from a driver-side count (S9 shape, like
    * q106's K). MEMOIZED per (session, dir) — five query families
    * (q31/q74/q118/q162 via q74/q168/q171 via q168) consume the same
    * bucket table, and a user runs the signing scan once; partitioned
    * on (band, key) so the banded self-joins in q74/q168 read both
    * sides co-located. */
  private val bitsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private def bucketsOf(s: SparkSession, dir: String): (DataFrame, Int) = {
    val bits = bitsMemo.getOrElseUpdate(
      s"${s.sparkContext.applicationId}|$dir",
      lshBits(Tables.embeddings(s, dir).count()))
    val df = Shared.memoized(s, dir, "lshBuckets", Seq("band", "key"))(
      VectorSearch.lshBuckets(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        VectorSearch.planesDF(s, planes.take(Bands * bits)), bits))
    (df, bits)
  }

  /** Exact cosine over the LSH-bucket candidate pairs (v1 < v2) at
    * the corpus-derived resolution — the shared verifier input of
    * q74/q162 (near-dup pairs/clusters), q168/q171 (kNN graph/label
    * prop) and q178 (DBSCAN neighbourhoods): all of them filter or
    * rank exactly this frame, so the banded self-join + double
    * embedding join + cosine runs ONCE per session instead of once
    * per consumer (round 18, guide §2.4 — the same subplan was
    * rebuilt three times per sweep). Pair volume is the bucket-depth-
    * bounded candidate set (linear in the corpus at the derived band
    * width), id + cosine columns only — never embeddings. */
  private def candCosines(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "candCosines") {
      val emb = Tables.embeddings(s, dir)
      val (buckets, _) = bucketsOf(s, dir)
      val cands = buckets.select(col("band"), col("key"), col("vec_id").as("v1"))
        .join(buckets.select(col("band"), col("key"), col("vec_id").as("v2")),
          Seq("band", "key"))
        .filter(col("v1") < col("v2"))
        .select("v1", "v2").distinct()
      cands
        .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1")),
          Seq("v1"))
        .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")),
          Seq("v2"))
        .select(col("v1"), col("v2"),
          r6(cosine(col("e1"), col("e2"))).as("cosine"))
    }

  /** Fixed query-batch bound: ids are dense, so `% 50 = 0 AND
    * < QBatchMax` keeps ≤ 20 queries forever (10 at the sf0.01 gate
    * scale, where the corpus has 500 vectors and the cap is loose). */
  private val QBatchMax = 1000L

  private def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))

  /** Brute-force truth, memoized pre-sort (round 18, guide §2.4):
    * the SAME ranked batch grades every approximate index — q118's
    * six recall legs, q172's ten metric legs, q188's Matryoshka curve
    * and q194's multi-probe report each re-ran the O(batch·n) corpus
    * scan; one session computes it once. Batch·K rows — bytes. */
  private def annBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Shared.memoized(s, dir, "annBrute")(
      VectorSearch.cosineTopK(
        emb.select("vec_id", "embedding"), queriesOf(emb), K))
  }

  /** Brute-force cosine top-k: broadcast query batch × corpus scan. */
  def q30KnnBrute(s: SparkSession, dir: String): DataFrame =
    annBrute(s, dir).orderBy("qid", "rnk")

  /** LSH-bucketed ANN: sign-bit signatures over fixed hyperplanes at
    * the corpus-derived band width (see the derivation block above),
    * banded; candidates = corpus vectors sharing any band key with the
    * query; exact cosine + top-k within candidates only. */
  /** q31's ranked result pre-sort, memoized for the graders (q118/
    * q172/q194) — the annBrute pattern. */
  private def annLsh(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annLsh") {
      val emb = Tables.embeddings(s, dir)
      val (buckets, _) = bucketsOf(s, dir)
      val qIds = queriesOf(emb).select("qid")
      val qBuckets = buckets
        .join(qIds, buckets("vec_id") === qIds("qid"))
        .select(col("qid"), col("band"), col("key"))
      val cands = qBuckets.join(buckets, Seq("band", "key"))
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id").distinct()
      val scored = cands
        .join(Tables.embeddings(s, dir).select(col("vec_id").as("qid"), col("embedding").as("qemb")), Seq("qid"))
        .join(Tables.embeddings(s, dir).select("vec_id", "embedding"), Seq("vec_id"))
        .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= K)
        .select("qid", "vec_id", "cosine", "rnk")
    }

  def q31KnnLsh(s: SparkSession, dir: String): DataFrame =
    annLsh(s, dir).orderBy("qid", "rnk")

  /** Per-label centroids, elementwise over the array column. Sums are
    * micro-quantized so the distributed aggregation is exact. */
  def q32LabelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(
        sum(micro(col("v").cast("double"))).as("sum_micro"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("pos"),
        r6(col("sum_micro") / 1e6 / col("n_vecs")).as("centroid"),
        col("n_vecs"))
      .orderBy("label", "pos")

  /** IVF-style ANN: the label cells are the inverted file, the exact
    * micro-quantized per-cell centroids (q32) are the coarse
    * quantizer, and each query probes its `NProbe` nearest centroids,
    * scanning only those cells. At 100 TB the corpus is bucketed by
    * cell id, the centroid table is a broadcast dim, and a probe reads
    * `NProbe / nCells` of the data — the standard IVF trade. */
  /** q70's ranked result pre-sort, memoized for the graders (q118/
    * q172) — the annBrute pattern. */
  private def annIvf(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annIvfFlat")(q70Body(s, dir))

  def q70IvfAnn(s: SparkSession, dir: String): DataFrame =
    annIvf(s, dir).orderBy("qid", "rnk")

  private def q70Body(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum(micro(col("v").cast("double"))).as("sum_micro"),
        count(lit(1)).as("n"))
      .withColumn("c", r6(col("sum_micro") / 1e6 / col("n")))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))
    val probes = queriesOf(emb)
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", r6(cosine(col("qemb"), col("centroid"))))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ccos").desc, col("label"))))
      .filter(col("crnk") <= NProbe)
      .select("qid", "qemb", "label")
    val scored = probes
      .join(emb.select(col("vec_id"), col("embedding"), col("label")), Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "cosine", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs over the whole corpus:
    * hyperplane-LSH bucket self-join as the prefilter — at the
    * corpus-derived band width, so the expected bucket stays
    * ~TargetBucket deep and the pair stage is linear in the corpus
    * (see the derivation block above; the fixed 4-bit width measured
    * 668 s / 5.8M mostly-noise pairs at sf3) — exact cosine threshold
    * as the verifier, the embedding-space analogue of the MinHash
    * near-dup pipeline (q26). Output pairs are exactly "shared a band
    * key AND cosine >= MinDupCosine" at that resolution. */
  def q74EmbeddingDups(s: SparkSession, dir: String): DataFrame =
    // the banded candidate + exact-cosine pass is the memoized
    // candCosines frame shared with q168/q178 (round 18); this query
    // is its threshold filter
    candCosines(s, dir)
      .filter(col("cosine") >= MinDupCosine)
      .select("v1", "v2", "cosine")
      .orderBy("v1", "v2")

  /** Deterministic k-means over the embeddings (M8 — the reference's
    * experimental clustering, `analyser/` K-means prototypes): K=8
    * centroids seeded from the 8 smallest vec_ids, 2 Lloyd iterations
    * unrolled. Everything is EXACT integer arithmetic so an
    * independent engine reproduces the clustering bit-for-bit:
    * components are micro-quantized and offset to non-negative longs
    * (so truncating and flooring integer division agree), distances
    * are integer sums of squares, centroid updates are integer-mean
    * (`div`), ties broken by smallest cluster id. Each iteration is
    * one broadcast of the 8-row centroid table + one shuffle of the
    * per-dim sums — no per-iteration corpus re-shuffle, the shape that
    * scales to a billion vectors. */
  /** The two-iteration Lloyd assignment shared by q82 (cluster stats)
    * and q106 (SemDeDup cells): returns `(vec_id, qe, cl)` with the
    * same exact-integer arithmetic documented on [[q82Kmeans]].
    * `kClusters` seeds from the `kClusters` smallest vec_ids — q82
    * pins 8 (the demo clustering), q106 derives it from corpus size
    * so cells stay bounded. */
  private def kmeansAssignment(s: SparkSession, dir: String,
                               kClusters: Int): DataFrame =
    // memoized per (session, dir, K): the Lloyd assignment (n×K
    // integer distances × 2 iterations) is the dominant cost of every
    // k-means leg, and q82/q106/q158 (and q118/q164/q172 through
    // q158) all derive from the same cells — an index a user builds
    // once. Keyed by cl so the per-cell stages that follow group
    // without a shuffle.
    Shared.memoized(s, dir, s"kmeans$kClusters", Seq("cl")) {
      val q = quantized(Tables.embeddings(s, dir))
      lloyd2(q, q.filter(col("vec_id") < kClusters)
        .select(col("vec_id").as("cl"), col("qe").as("c")), kClusters)
    }

  /** Exact-integer embedding quantization shared by every k-means leg:
    * micro-units shifted non-negative, so distances are pure long
    * arithmetic (identical in Spark and DuckDB). */
  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long") + 1000000L).as("qe"))

  /** Assign each vector of `q` to the nearest centroid (integer L2,
    * ties to the smallest cl). The distance is the native codegen'd
    * [[graft.functions.VectorExpressions.l2q]] — bit-identical to the
    * HOF spelling (pure long arithmetic) but one compiled loop; the
    * assignment runs it n×K times per iteration, the dominant cost of
    * q106/q116 once K became corpus-derived. Per-vector argmin via
    * min(struct) instead of a rank window: no sort, map-side partial
    * aggregation over the broadcast-join output. */
  private[graft] def lloydAssign(q: DataFrame, cents: DataFrame): DataFrame =
    attachQe(q,
      q.crossJoin(broadcast(cents))
        .select(col("vec_id"), struct(
          graft.functions.VectorExpressions.l2q(col("qe"), col("c")).as("d"),
          col("cl")).as("s"))
        .groupBy("vec_id")
        .agg(min("s").as("best"))
        .select(col("vec_id"), col("best.cl").as("cl")))

  /** Re-attach the quantized vector to a narrow `(vec_id, cl)`
    * assignment. min(struct) is not HashAggregate-able (struct
    * buffers), so the argmin runs as a SortAggregate over the n×K
    * candidate expansion — carrying the ~600 B qe payload through
    * that sort multiplied its spill ~20× (the round-14 drill ENOSPC'd
    * a 77 G scratch on exactly this); keeping the aggregate rows at
    * (vec_id, d, cl) and joining qe back afterwards makes the spill
    * proportional to candidates, not candidates × vector width. The
    * narrow side builds the hash map (SHUFFLE_HASH), the wide vectors
    * stream. */
  private def attachQe(q: DataFrame, asg: DataFrame): DataFrame =
    q.select(col("vec_id"), col("qe"))
      .join(asg.hint("SHUFFLE_HASH"), Seq("vec_id"))
      .select(col("vec_id"), col("qe"), col("cl"))

  /** Above this centroid count the assignment goes hierarchical —
    * brute n×K is exact but its cost at the [[KMax]] pin (n ≥ ~4.2M →
    * K = 65536) is ~2¹⁷ distance evals per vector, infeasible on any
    * executor. Every oracle-verified scale derives K below this
    * threshold (sf10's 200k vectors → K = 3125), so the exact brute
    * path is what every hash row replays; the hierarchical path is the
    * 100-TB regime's approximation, measured by the round-12 KMax
    * crossover drill. */
  private[graft] val HierAssignK = 4096

  /** Coarse cells probed per vector on the hierarchical path. 2 = the
    * standard IVF nprobe move: the K=65536 drill (BASELINE round-14
    * row) prices the runner-up probe at ~2× fine-candidate cost for a
    * materially thinner boundary-miss tail, so production assignment
    * uses it; [[graft.tools.HierDrill]] measures both arms. */
  private[graft] val HierNProbe = 2

  /** Hierarchical (coarse→fine) Lloyd assignment for the pinned-K
    * regime: a deterministic ~256-centroid coarse level (every
    * stride-th centroid by cl) routes each vector to its `nprobe`
    * nearest coarse cells, then the argmin runs over only those cells'
    * fine centroids — O(n·(256 + nprobe·K/256)) instead of O(n·K), the
    * standard IVF trick (SemDeDup itself clusters 5B embeddings with
    * approximate assignment). Vectors near coarse boundaries may land
    * in a neighbouring fine cell; nprobe = 2 (the standard IVF move)
    * checks the runner-up coarse cell too, roughly halving that
    * boundary-miss tail for ~2× fine-candidate cost — priced by
    * [[graft.tools.HierDrill]], adopted per the round-13 verdict.
    * The runner-up cell comes from a SECOND map-side-combinable
    * min(struct) sweep (recomputing the broadcast distances, never
    * shuffling the n×256 frame), so both passes stay partial-agg
    * friendly at corpus scale. Deterministic end to end (min(struct)
    * ties, fixed stride). */
  private[graft] def lloydAssignHier(q: DataFrame, cents: DataFrame,
                              k: Int, nprobe: Int = HierNProbe): DataFrame = {
    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VectorExpressions.l2q(a, b)
    require(nprobe == 1 || nprobe == 2, s"nprobe $nprobe not in {1, 2}")
    val coarseN = 256L
    val stride = math.max(1L, k.toLong / coarseN)
    val coarse = cents.filter(col("cl") % stride === 0)
      .select(col("cl").as("ccl"), col("c").as("cc"))
    // fine centroid -> nearest coarse centroid (K × ~256, distributed)
    val fineMap = cents.crossJoin(broadcast(coarse))
      .withColumn("d", l2(col("c"), col("cc")))
      .groupBy("cl")
      .agg(min(struct(col("d"), col("ccl"))).as("b"), first("c").as("c"))
      .select(col("b.ccl").as("ccl"), col("cl"), col("c"))
    // Every vector-side argmin below keeps the aggregate rows NARROW
    // — (vec_id, d, cell) only, vectors re-attached afterwards via
    // [[attachQe]]'s hash join — because min(struct) sort-aggregates
    // the candidate expansion and the qe payload would multiply its
    // spill ~20× (the round-14 drill measured exactly that).
    // vector -> nearest coarse cell (n × ~256)
    val v1 = q.crossJoin(broadcast(coarse))
      .select(col("vec_id"),
        struct(l2(col("qe"), col("cc")).as("d"), col("ccl")).as("s"))
      .groupBy("vec_id").agg(min("s").as("b"))
      .select(col("vec_id"), col("b.ccl").as("ccl"))
    // vector -> runner-up coarse cell: re-sweep with the winner masked
    // out. An n-row hash join (vec_id -> winner, 16 B/row build side)
    // + another broadcast distance pass — no n×256 shuffle anywhere.
    val vc =
      if (nprobe <= 1) v1
      else v1.unionByName(
        q.join(v1.select(col("vec_id"), col("ccl").as("ccl1"))
            .hint("SHUFFLE_HASH"), Seq("vec_id"))
          .crossJoin(broadcast(coarse))
          .filter(col("ccl") =!= col("ccl1"))
          .select(col("vec_id"),
            struct(l2(col("qe"), col("cc")).as("d"), col("ccl")).as("s"))
          .groupBy("vec_id").agg(min("s").as("b"))
          .select(col("vec_id"), col("b.ccl").as("ccl")))
    // vector -> fine argmin over the union of its probed cells
    // (n × ~nprobe·K/256); the groupBy merges both probes' candidates
    attachQe(q,
      q.join(vc.hint("SHUFFLE_HASH"), Seq("vec_id"))
        .join(broadcast(fineMap), Seq("ccl"))
        .select(col("vec_id"),
          struct(l2(col("qe"), col("c")).as("d"), col("cl")).as("s"))
        .groupBy("vec_id").agg(min("s").as("best"))
        .select(col("vec_id"), col("best.cl").as("cl")))
  }

  private[graft] def assignK(q: DataFrame, cents: DataFrame, k: Int): DataFrame =
    if (k <= HierAssignK) lloydAssign(q, cents)
    else {
      // visible, not silent (ADVICE r12): above the threshold results
      // are approximate (coarse-cell routing) and not DuckDB-replayable
      // — large-scale runs must be able to see which regime they ran in
      System.err.println(s"[graft] kmeans assignment: K=$k > " +
        s"HierAssignK=$HierAssignK — hierarchical (APPROXIMATE) " +
        "coarse->fine path engaged; results not oracle-replayable")
      lloydAssignHier(q, cents, k)
    }

  /** Two Lloyd iterations from seed centroids `c0` (the shape every
    * oracle replays via `kmeansIterSql`; assignment dispatches to the
    * hierarchical path above [[HierAssignK]] centroids). */
  private def lloyd2(q: DataFrame, c0: DataFrame, k: Int): DataFrame =
    assignK(q, recomputeCentroids(assignK(q, c0, k)), k)

  private def recomputeCentroids(a: DataFrame): DataFrame =
    a.select(col("cl"), posexplode(col("qe")).as(Seq("i", "v")))
      .groupBy("cl", "i").agg(expr("sum(v) div count(1)").as("v"))
      .groupBy("cl")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
        x => x.getField("v")).as("c"))

  def q82Kmeans(s: SparkSession, dir: String): DataFrame = {
    val a2 = kmeansAssignment(s, dir, kClusters = 8)
    val c2 = recomputeCentroids(a2)
      .select(col("cl"), aggregate(col("c"), lit(0L),
        (acc, x) => acc + x * x).as("centroid_ssq"))
    a2.groupBy("cl")
      .agg(count(lit(1)).as("n_vecs"),
        min("vec_id").as("min_vec_id"), max("vec_id").as("max_vec_id"))
      .join(c2, Seq("cl"))
      .orderBy("cl")
  }

  /** q106: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means the embedding space into cells, compare
    * pairs ONLY within a cell, and greedily drop every vector that has
    * an earlier (smaller vec_id) cell-mate above the cosine threshold.
    * This is the embedding-space complement of q26 (MinHash surface
    * dup) and q74 (LSH near-dup): it catches semantically-redundant
    * documents whose wording shares nothing.
    *
    * Scale shape: the clustering is the partitioner. Assignment is a
    * broadcast of the K-row centroid table (no corpus shuffle); the
    * pair stage shuffles once, keyed by cell; within-cell work is
    * O(m²) where SemDeDup's premise is that K grows with the corpus so
    * m stays bounded (the paper uses K≈100k on web scale — cells of a
    * few thousand). Accordingly K is DERIVED from the corpus:
    * K = max(8, ceil(n / TargetCell)), so mean cell size is pinned
    * near [[TargetCell]] at every scale and the within-cell stage is
    * O(n·TargetCell), linear in the corpus — never quadratic at a
    * fixed K (at sf0.01, n=500 derives K=8, so the gate-scale result
    * equals the historical K=8 run). Seeding stays deterministic (the
    * K smallest vec_ids) and the oracle derives the identical K from
    * the same count. Defense in depth for skewed clusterings: the
    * "prior" side of the pair join keeps only the [[CellCap]] earliest
    * members per cell (rank by vec_id), bounding any single cell's
    * pairs at CellCap × m — the same guard shape as the hot-bucket
    * caps in [[graft.operators.TextDedup]]. A vector dropped by a
    * capped prior is still compared against the first CellCap members,
    * which is SemDeDup's greedy earlier-survivor semantics truncated,
    * and the cap never binds while cells stay near TargetCell. */
  def q106SemDedup(s: SparkSession, dir: String): DataFrame = {
    // driver-side scalar (S9 shape, parquet-metadata count): the
    // corpus size that sizes K
    val k = semDedupK(Tables.embeddings(s, dir).count())
    val asg = kmeansAssignment(s, dir, k).select("vec_id", "cl")
    // m feeds three consumers (cell sizes, both pair sides, final
    // roll-up); persist so the Lloyd assignment runs once, not three
    // times (tracked so Shared.clear() can evict it between workloads)
    val m = Shared.track(
      Tables.embeddings(s, dir).select("vec_id", "embedding")
        .join(asg, Seq("vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cells = m.groupBy("cl").agg(count(lit(1)).as("n_cell"))
    val priors = m.select(col("cl"), col("vec_id").as("v1"),
        col("embedding").as("e1"))
      .withColumn("prior_rank", row_number().over(
        Window.partitionBy("cl").orderBy("v1")))
      .filter(col("prior_rank") <= CellCap)
    val best = priors
      .join(m.select(col("cl"), col("vec_id").as("v2"),
        col("embedding").as("e2")), Seq("cl"))
      .filter(col("v1") < col("v2"))
      .withColumn("cosine", r6(cosine(col("e1"), col("e2"))))
      .filter(col("cosine") >= SemDupTau)
      .groupBy(col("v2").as("vec_id"))
      .agg(max("cosine").as("best_prior_cos"))
    m.select("vec_id", "cl")
      .join(cells, Seq("cl"))
      .join(best, Seq("vec_id"), "left")
      .withColumn("is_dup", col("best_prior_cos").isNotNull)
      .na.fill(-1.0, Seq("best_prior_cos"))
      .select("vec_id", "cl", "n_cell", "best_prior_cos", "is_dup")
      .orderBy("vec_id")
  }

  /** q116: incremental ANN index append — the vector-side companion of
    * q110's incremental near-dup: an IVF index built over the PRIOR
    * corpus (deterministic two-iteration Lloyd, K derived from prior
    * size exactly like q106) stays FROZEN while a new ingest batch
    * (`vec_id % 10 = 7`, ~10%) is assigned to its nearest existing
    * cell. At 100 TB this is the only viable index-maintenance shape:
    * re-clustering the full corpus per ingest batch is a full-corpus
    * job, while assigning a batch is one broadcast of the K-row
    * centroid table and a map-side argmin — no shuffle of either the
    * prior corpus or the batch beyond the final per-cell count.
    * Output: each batch vector's cell, its integer L2 distance, and
    * the batch's per-cell arrival counts (the signal a cell-split
    * policy would watch). */
  def q116IncrementalAnn(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(s, dir)
    val prior = quantized(all.filter(col("vec_id") % 10 =!= 7))
    val batch = quantized(all.filter(col("vec_id") % 10 === 7))
    // driver-side scalar (S9 shape): prior-corpus size derives K
    val k = semDedupK(prior.count())
    // seeds = the K smallest prior vec_ids (TakeOrdered — no global
    // sort; `vec_id < K` would wrongly include batch ids)
    val c0 = prior.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cl"), col("qe").as("c"))
    val cents = recomputeCentroids(lloyd2(prior, c0, k))
    val asg = batch.crossJoin(broadcast(cents))
      .withColumn("d", graft.functions.VectorExpressions.l2q(col("qe"), col("c")))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cl"))).as("best"))
      .select(col("vec_id"), col("best.cl").as("cl"),
        col("best.d").as("dist_q"))
    val cellSizes = asg.groupBy("cl").agg(count(lit(1)).as("n_batch"))
    asg.join(cellSizes, Seq("cl"))
      .select("vec_id", "cl", "dist_q", "n_batch")
      .orderBy("vec_id")
  }

  /** q118: ANN recall evaluation — recall@K of every approximate
    * search path (q31 hyperplane-LSH, q70 probe-2 label-cell IVF,
    * q158 content-derived k-means-cell IVF, q166 SQ8, q173 PQ,
    * q174 IVF-PQ) against the q30 brute-force ground truth, per
    * query point. "Measure, don't
    * guess": the approximate indexes' quality is a number the pipeline
    * watches, not an assertion — the q158 leg exists BECAUSE this
    * report exposed the label cells' clone-corpus failure (RECALL.md),
    * so the fix it bought is watched continuously too. Exact integer
    * output (hits, k, recall in milli-units).
    *
    * Scale shape: the ground truth is computed on the FIXED-SIZE
    * query batch all three paths share ([[QBatchMax]]): a sampled
    * batch is how recall is estimated at any scale — the brute leg is
    * O(batch · n), linear in the corpus, never quadratic. The joins
    * are on (qid, vec_id) — K·|batch| rows per side, tiny relative to
    * the corpus, shuffled once per method. */
  def q118AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = annBrute(s, dir).select("qid", "vec_id")
    def recall(approx: DataFrame, method: String): DataFrame =
      truth.join(approx.select(col("qid"), col("vec_id"))
          .withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("method", lit(method))
    recall(annLsh(s, dir), "lsh")
      .unionByName(recall(annIvf(s, dir), "ivf"))
      .unionByName(recall(annIvfKmeans(s, dir), "ivf_kmeans"))
      .unionByName(recall(annSq8(s, dir), "sq8"))
      .unionByName(recall(annPq(s, dir), "pq"))
      .unionByName(recall(annIvfPq(s, dir), "ivfpq"))
      .withColumn("recall_milli", expr("hits * 1000 div k"))
      .select("method", "qid", "k", "hits", "recall_milli")
      .orderBy("method", "qid")
  }

  /** q171: LABEL PROPAGATION over the q168 kNN graph — the
    * semi-supervised labeling pass a curation pipeline runs when only
    * a fraction of the corpus carries trusted labels (here: seeds =
    * `vec_id % 4 = 0` keep their true label; 75% start unlabeled):
    * two unrolled rounds where every non-seed node adopts the
    * MAJORITY label among its kNN neighbours' current labels (ties to
    * the smallest label; no labelled neighbour → keep the previous
    * state), seeds immutable. Output grades itself against the held
    * truth — the accuracy number a real pipeline would watch.
    *
    * Scale shape: per round, one keyed join of the 3n-row edge list
    * against the n-row label frame, a combinable vote count, and a
    * neighbour-count-sized window — all shuffles carry ids + labels,
    * never embeddings. Rounds are a static unroll (fixed 2). */
  def q171LabelProp(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("true_label"))
    val edges = knnEdges(s, dir).select("src", "dst")
    val seeds = emb.select(col("vec_id"),
      when(col("vec_id") % 4 === 0, col("true_label")).as("seed_lab"))
    var labels = seeds.select(col("vec_id"), col("seed_lab").as("lab"))
    for (_ <- 1 to 2) {
      val votes = edges
        .join(labels.select(col("vec_id").as("dst"), col("lab")), Seq("dst"))
        .filter(col("lab").isNotNull)
        .groupBy("src", "lab").agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("src")
        .orderBy(col("votes").desc, col("lab"))
      val winner = votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("src").as("vec_id"), col("lab").as("vote_lab"))
      labels = seeds
        .join(labels.select(col("vec_id"), col("lab").as("prev")), Seq("vec_id"))
        .join(winner, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("seed_lab"), col("vote_lab"), col("prev")).as("lab"))
    }
    emb.join(labels, Seq("vec_id"))
      .withColumn("is_seed", col("vec_id") % 4 === 0)
      .withColumn("predicted", col("lab"))
      .withColumn("correct",
        coalesce(col("predicted") === col("true_label"), lit(false)))
      .select("vec_id", "true_label", "predicted", "is_seed", "correct")
      .orderBy("vec_id")
  }

  /** q172: RANKING-AWARE retrieval metrics — MRR and nDCG@[[K]] for
    * ALL TEN approximate index families against the q30 brute-force
    * truth: the six bit/cell-truncation indexes (lsh, ivf, ivf_kmeans,
    * sq8, pq, ivfpq), the multi-probe query-fan-out lever (mlsh,
    * q194's lever graded with rank sensitivity), and the three
    * Matryoshka dimension-truncation prefixes (mrl8/16/32, q188's
    * axis) — ONE oracle-verified artifact for the whole recall/MRR/
    * nDCG ladder, completing q118's recall with ORDER sensitivity: recall
    * treats a hit at rank 5 like a hit at rank 1; a production
    * retrieval stack watches MRR/nDCG because the model consumes the
    * top of the list first. Exact integers end-to-end: per-position
    * DCG terms are micro-rounded (the q136 ln precedent — both
    * engines compute the identical double before the round), the
    * ideal DCG is the same Σ over ranks 1..K (the truth list always
    * holds K entries), and MRR is 1000 DIV first-relevant-rank.
    * Same fixed query batch as q30/q118 — O(batch·K) work after the
    * index scans, at any corpus size. */
  def q172RetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val truth = annBrute(s, dir).select("qid", "vec_id")
      .withColumn("rel", lit(1L))
    def metrics(approx: DataFrame, method: String): DataFrame =
      approx.select("qid", "vec_id", "rnk")
        .join(truth, Seq("qid", "vec_id"), "left")
        .na.fill(0L, Seq("rel"))
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum("rel").as("hits"),
          min(when(col("rel") === 1L, col("rnk"))).as("first_rel"),
          sum(when(col("rel") === 1L,
            expr("CAST(round(1e6 / log2(rnk + 1)) AS BIGINT)"))
            .otherwise(0L)).as("dcg_micro"))
        .withColumn("method", lit(method))
    val idcg = (1 to K)
      .map(i => math.round(1e6 / (math.log(i + 1) / math.log(2.0)))).sum
    metrics(annLsh(s, dir), "lsh")
      .unionByName(metrics(annIvf(s, dir), "ivf"))
      .unionByName(metrics(annIvfKmeans(s, dir), "ivf_kmeans"))
      .unionByName(metrics(annSq8(s, dir), "sq8"))
      .unionByName(metrics(annPq(s, dir), "pq"))
      .unionByName(metrics(annIvfPq(s, dir), "ivfpq"))
      .unionByName(metrics(mlshResult(s, dir), "mlsh"))
      .unionByName(MrlDims.map(p =>
        metrics(mrlResult(s, dir, p), s"mrl$p")).reduce(_.unionByName(_)))
      .withColumn("mrr_milli",
        coalesce(expr("1000 DIV first_rel"), lit(0L)))
      .withColumn("ndcg_micro", expr(s"dcg_micro * 1000000 DIV $idcg"))
      .select("method", "qid", "k", "hits", "mrr_milli", "ndcg_micro")
      .orderBy("method", "qid")
  }

  /** Drill support ([[graft.tools.HierDrill]]): the pinned-K regime's
    * correctness cross-check the round-12 verdict asked for. The
    * K = 65536 regime is not DuckDB-replayable (the oracle would
    * materialize n×K), so this measures, at drill scale, how often the
    * hierarchical assignment agrees with the exact brute argmin on a
    * sampled vector subset — against the SAME centroid table the q106
    * chain builds (seed = K smallest ids, one assignment + recompute).
    * Returns one row: corpus size, K, sample size, agreement count,
    * and the summed assigned-distance inflation of hier over brute
    * (micro-ratio) — the one-sided error the approximation pays. */
  private[graft] def hierAgreementProbe(s: SparkSession, dir: String,
      sampleEvery: Long, nprobe: Int = HierNProbe): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    val k = semDedupK(n)
    require(k > HierAssignK,
      s"probe targets the pinned regime; corpus derives K=$k <= $HierAssignK")
    val q = quantized(Tables.embeddings(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c0 = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cl"), col("qe").as("c"))
    val c1 = recomputeCentroids(assignK(q, c0, k.toInt))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    c1.count()
    val sample = q.filter(pmod(col("vec_id"), lit(sampleEvery)) === 0)
    val l2 = graft.functions.VectorExpressions.l2q(col("qe"), col("c"))
    def withD(asg: DataFrame, cl: String, d: String) = asg
      .select(col("vec_id"), col("qe"), col("cl").as(cl))
      .join(c1.select(col("cl").as(cl), col("c")), Seq(cl))
      .select(col("vec_id"), col(cl), l2.as(d))
    val b = withD(lloydAssign(sample, c1), "cl_brute", "d_brute")
    val h = withD(lloydAssignHier(sample, c1, k.toInt, nprobe),
      "cl_hier", "d_hier")
    // d_brute = 0 happens when a sampled vector IS a centroid (seeds
    // are corpus vectors): the ratio is undefined there, and non-ANSI
    // division would yield NULL that percentile_approx silently drops
    // (ADVICE r13). A (0, 0) pair is a perfect tie → inflation 0; a
    // (0, >0) pair is a hier miss with no finite ratio → excluded from
    // the percentiles but COUNTED explicitly in d_brute_zero_miss_n so
    // it can't hide.
    b.join(h, Seq("vec_id"))
      .withColumn("infl_micro",
        when(col("d_brute") === 0,
          when(col("d_hier") === 0, lit(0L)).otherwise(lit(null)))
          .otherwise(
            (col("d_hier").cast("decimal(38,0)") * 1000000 / col("d_brute"))
              .cast("long") - 1000000L))
      .agg(count(lit(1)).as("sample_n"),
        sum(when(col("cl_brute") === col("cl_hier"), 1L).otherwise(0L))
          .as("agree_n"),
        sum(when(col("d_brute") === col("d_hier"), 1L).otherwise(0L))
          .as("d_equal_n"),
        sum(when(col("d_brute") === 0, 1L).otherwise(0L))
          .as("d_brute_zero_n"),
        sum(when(col("d_brute") === 0 && col("d_hier") > 0, 1L)
          .otherwise(0L)).as("d_brute_zero_miss_n"),
        sum("d_brute").as("sum_d_brute"),
        sum("d_hier").as("sum_d_hier"),
        expr("percentile_approx(infl_micro, array(0.5, 0.9, 0.99), 10000)")
          .as("infl_p"))
      .select(lit(n).as("n_vectors"), lit(k).as("k"),
        lit(nprobe).as("nprobe"),
        col("sample_n"), col("agree_n"),
        (col("agree_n") * 1000 / col("sample_n")).as("agree_milli"),
        col("d_equal_n"), col("d_brute_zero_n"), col("d_brute_zero_miss_n"),
        (col("sum_d_hier").cast("decimal(38,0)") * 1000000 /
          col("sum_d_brute")).cast("long").as("d_inflation_micro"),
        col("infl_p").getItem(0).as("infl_p50_micro"),
        col("infl_p").getItem(1).as("infl_p90_micro"),
        col("infl_p").getItem(2).as("infl_p99_micro"))
  }

  private val SemDupTau = 0.35
  /** Target mean SemDeDup cell size; K = max(8, ceil(n/TargetCell)). */
  private val TargetCell = 64L
  /** Within-cell prior-side cap (defense in depth for skewed cells). */
  private val CellCap = 256

  /** Centroid-count ceiling: beyond KMax·TargetCell (~4M) vectors the
    * cell count pins at KMax — the paper's own web-scale regime (a
    * FIXED K≈100k at 5B embeddings, cells in the tens of thousands) —
    * and the pair stage stays bounded by [[CellCap]] while the Lloyd
    * assignment stays O(n·KMax), linear in the corpus. Below the
    * ceiling K grows with n so cells hold near [[TargetCell]]. Both
    * regimes are one formula; every test scale sits far below the
    * ceiling, so results are unchanged. */
  private val KMax = 65536L

  /** SemDeDup cell count for an `n`-vector corpus: grows linearly so
    * mean cell size stays near [[TargetCell]] (integer ceil-div ==
    * the oracle's `ceil(count(*)/64.0)`), pinned at [[KMax]] above
    * the linear-growth regime. Package-visible for the plan-contract
    * spec. */
  private[graft] def semDedupK(n: Long): Int =
    math.min(KMax, math.max(8L, (n + TargetCell - 1) / TargetCell)).toInt

  /** q132: hard-negative mining — the contrastive-training data prep
    * that picks, per anchor vector, the most-similar corpus vectors
    * with a DIFFERENT label (the negatives that actually teach the
    * model something; random negatives are trivially easy). Anchor
    * batch = the q30 query set with its labels, broadcast against the
    * corpus scan with the label-inequality filter applied BEFORE the
    * cosine — same plan skeleton as q30's brute top-k, top-2 per
    * anchor. At 100 TB the corpus side swaps to the q70 IVF probe
    * (cells are label-agnostic, the filter stays); the broadcast-
    * anchor shape is unchanged. The anchor set is the same FIXED-SIZE
    * batch as q30 ([[QBatchMax]]): a mining pass processes anchors in
    * bounded batches, it does not scale its batch with the corpus. */
  def q132HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val anchors = emb
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("label").as("qlabel"))
    val scored = emb.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc,
      col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("qid"), col("qlabel"), col("vec_id"),
        col("label").as("neg_label"), col("cosine"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  /** q191: CONTRASTIVE TRIPLET MINING — the (anchor, positive, hard
    * negative) assembly an embedding-training pipeline feeds its
    * triplet/InfoNCE loss: per anchor, the most-similar SAME-label
    * vector is the positive, q132's most-similar DIFFERENT-label
    * vector is the hard negative, and the margin (positive cosine −
    * negative cosine, micro-exact) is the per-example difficulty the
    * curriculum sorts on — a NEGATIVE margin marks exactly the
    * examples where the current embedding confuses labels, the ones
    * contrastive training gains most from. Composes the engine's
    * mining primitives into the final training-data artifact.
    *
    * Scale shape: two broadcast-anchor-batch × linear-corpus scans
    * (the q30/q132 shape) + one batch-sized join; at 100 TB both
    * scans swap to the q70/q158 IVF probe, as q132 documents. */
  def q191ContrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val anchors = emb
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("label").as("qlabel"))
    def top1(sameLabel: Boolean) = {
      val base = emb.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("qid") &&
          (if (sameLabel) col("label") === col("qlabel")
           else col("label") =!= col("qlabel")))
        .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
      val w = Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("vec_id"))
      base.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
    }
    val pos = top1(sameLabel = true)
      .select(col("qid"), col("qlabel"), col("vec_id").as("pos_id"),
        col("cosine").as("pos_cos"))
    val neg = top1(sameLabel = false)
      .select(col("qid"), col("vec_id").as("neg_id"),
        col("cosine").as("neg_cos"))
    pos.join(neg, Seq("qid"))
      .withColumn("margin_micro",
        expr("CAST(round((pos_cos - neg_cos) * 1e6) AS BIGINT)"))
      .select("qid", "qlabel", "pos_id", "pos_cos", "neg_id", "neg_cos",
        "margin_micro")
      .orderBy("qid")
  }

  /** q158: k-means-cell IVF ANN — the content-derived index the
    * RECALL.md sf1 rows showed q70's per-label cells lack: on a
    * corpus where near-duplicates span labels, an
    * attribute-partitioned inverted file probes the wrong cells
    * (measured recall 200/1000 vs LSH 1000), while cells derived from
    * the VECTORS themselves put a query's neighbours in its probed
    * cells by construction. Reuses the deterministic two-iteration
    * Lloyd machinery (K corpus-derived like q106, integer-exact
    * distances, ties to smallest cell): probe the [[NProbe]] nearest
    * centroids by integer L2, scan only those cells, exact cosine
    * top-[[K]].
    *
    * Scale shape: identical to q70 — centroids are a broadcast dim,
    * the corpus is bucketed by cell id, a probe reads NProbe/K of the
    * data — but the cell count grows with the corpus (semDedupK), so
    * the scanned fraction FALLS as the corpus grows at fixed probe
    * count; the clustering is one Lloyd pass amortized across every
    * search batch (and maintained incrementally by the q116 shape). */
  /** q158's ranked result pre-sort, memoized for the graders (q118/
    * q172) — the annBrute pattern. */
  private def annIvfKmeans(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annIvfKmeans")(q158Body(s, dir))

  def q158IvfKmeans(s: SparkSession, dir: String): DataFrame =
    annIvfKmeans(s, dir).orderBy("qid", "rnk")

  private def q158Body(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val k = semDedupK(emb.count())
    val asg = kmeansAssignment(s, dir, k)
    val cents = recomputeCentroids(asg)
    val q = quantized(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax))
      .select(col("vec_id").as("qid"), col("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d",
        graft.functions.VectorExpressions.l2q(col("qe"), col("c")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cl"))))
      .filter(col("crnk") <= NProbe)
      .select("qid", "cl")
    val scored = probes
      .join(asg.select("vec_id", "cl"), Seq("cl"))
      .filter(col("vec_id") =!= col("qid"))
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "cosine", "rnk")
  }

  /** Matryoshka prefix widths evaluated by q188. */
  private val MrlDims = Seq(8, 16, 32)

  /** q188: MATRYOSHKA-TRUNCATION RECALL — retrieval quality when the
    * index stores only the first P dimensions of each embedding
    * (Kusupati et al. 2022, "Matryoshka Representation Learning"; the
    * production trick where a prefix of the vector IS a valid smaller
    * embedding, so the store trades dimensions for memory the same
    * way q166/q173 trade bits): brute top-K on the P-dim prefix
    * cosine, graded against the full-dimension q30 truth, for
    * P ∈ 8/16/32 — the measured curve that tells a deployment which
    * prefix is safe to serve. Joins q118's watched family as the
    * DIMENSION-truncation axis next to its BIT-truncation axes.
    *
    * Scale shape: each leg is the q30 broadcast-batch × linear-corpus
    * scan over a SHORTER vector (the slice is map-side); grading is
    * batch·K-row joins. */
  def q188MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = annBrute(s, dir).select(col("qid"),
      col("vec_id"), lit(1L).as("rel"))
    val legs = MrlDims.map { p =>
      val res = mrlResult(s, dir, p)
      truth.join(res.select(col("qid"), col("vec_id"),
          lit(1L).as("found")), Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("found"), lit(0L))).as("hits"))
        .withColumn("method", lit(s"mrl$p"))
    }
    legs.reduce(_.unionByName(_))
      .withColumn("recall_milli", expr("hits * 1000 div k"))
      .select("method", "qid", "k", "hits", "recall_milli")
      .orderBy("method", "qid")
  }

  /** q194: MULTI-PROBE LSH (Lv et al. 2007) — the standard recall
    * lever that does NOT grow the index: each query probes its own
    * band bucket AND every 1-bit-flip neighbour key (bits probes per
    * band), because a near neighbour that lands one sign-bit away is
    * the most likely miss of sign-LSH. The index stays exactly q31's
    * bucket table (no extra storage, no extra bands); only the QUERY
    * fans out, by bands·(1+bits) lookups — a per-query constant.
    * Output is a self-graded recall report (the q188 shape): plain
    * q31 LSH vs multi-probe on the same corpus-derived buckets
    * against the q30 truth — the measured before/after of the lever.
    *
    * Scale shape: the probe fan-out multiplies a FIXED query batch;
    * the candidate join stays (band, key)-bucketed against the
    * memoized table; grading is batch·K joins. */
  /** Multi-probe ranked result (qid, vec_id, rnk ≤ K) — shared by
    * q194's recall report and q172's graded metrics family. */
  private def mlshResult(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annMlsh")(mlshBody(s, dir))

  private def mlshBody(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (buckets, bits) = bucketsOf(s, dir)
    val qb = buckets
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax)
      .select(col("vec_id").as("qid"), col("band"), col("key"))
    val probes = qb.unionByName(
      graft.operators.Blocking.bitFlipProbes(qb, "key", bits))
    val cand = probes
      .join(buckets.select(col("band"), col("key"), col("vec_id")),
        Seq("band", "key"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    cand
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= K)
  }

  /** Matryoshka P-dim prefix ranked result (qid, vec_id, rnk ≤ K) —
    * shared by q188's recall curve and q172's graded metrics. */
  private def mrlResult(s: SparkSession, dir: String, p: Int): DataFrame =
    Shared.memoized(s, dir, s"annMrl$p") {
      val emb = Tables.embeddings(s, dir)
      VectorSearch.cosineTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, p).as("embedding")),
        queriesOf(emb).select(col("qid"), slice(col("qemb"), 1, p).as("qemb")),
        K)
    }

  def q194MultiprobeLsh(s: SparkSession, dir: String): DataFrame = {
    val res = mlshResult(s, dir)
    val truth = annBrute(s, dir).select(col("qid"), col("vec_id"))
    def recall(df: DataFrame, m: String) = truth
      .join(df.select(col("qid"), col("vec_id"), lit(1L).as("found")),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("found"), lit(0L))).as("hits"))
      .withColumn("method", lit(m))
    recall(annLsh(s, dir), "lsh")
      .unionByName(recall(res, "mlsh"))
      .withColumn("recall_milli", expr("hits * 1000 div k"))
      .select("method", "qid", "k", "hits", "recall_milli")
      .orderBy("method", "qid")
  }

  /** Tombstoned vector predicate for the q186/q187 delete drills:
    * every vec_id ≡ 3 (mod 10) has been deleted from the store. */
  private def tombstoned(c: org.apache.spark.sql.Column) = c % 10 === 3

  /** q186: TOMBSTONE-AWARE ANN SERVE — q158's probe-2 search over a
    * store with DELETES: 10% of vectors are tombstoned, and the serve
    * path must exclude them BEFORE the top-K ranking (a post-filter
    * would silently return fewer than K results — the classic
    * deleted-document bug in vector stores), while queries remain
    * external and unaffected. The exclusion is a map-side predicate
    * on the assignment scan (at a real store the tombstone set is a
    * keyed side table anti-joined at the same spot), so serve cost is
    * unchanged and results are exactly "the live corpus's true
    * top-K" — which is what the oracle computes independently.
    *
    * Scale shape: identical to q158 (memoized assignments, broadcast
    * centroids, probe-pruned candidate scan); the tombstone filter
    * prunes candidates before the cosine. */
  def q186TombstoneServe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val k = semDedupK(emb.count())
    val asg = kmeansAssignment(s, dir, k)
    val cents = recomputeCentroids(asg)
    val q = quantized(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax))
      .select(col("vec_id").as("qid"), col("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d",
        graft.functions.VectorExpressions.l2q(col("qe"), col("c")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cl"))))
      .filter(col("crnk") <= NProbe)
      .select("qid", "cl")
    val scored = probes
      .join(asg.select("vec_id", "cl")
        .filter(!tombstoned(col("vec_id"))), Seq("cl"))
      .filter(col("vec_id") =!= col("qid"))
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "cosine", "rnk")
      .orderBy("qid", "rnk")
  }

  /** q187: ANN-INDEX COMPACTION REPORT — the maintenance readout a
    * vector store runs over its tombstones: per inverted-file cell,
    * total vs live membership and the live fraction, flagging cells
    * under 700‰ live for compaction (rewriting a cell's posting list
    * drops its dead entries; scan cost tracks TOTAL entries while
    * recall value tracks LIVE ones, so the flag is exactly the
    * read-amplification alarm). One combinable aggregate over the
    * memoized assignments — K rows out at any corpus size; the
    * natural companion to q164's persisted-index lifecycle (build →
    * store → serve → COMPACT). */
  def q187CompactionReport(s: SparkSession, dir: String): DataFrame = {
    val k = semDedupK(Tables.embeddings(s, dir).count())
    kmeansAssignment(s, dir, k)
      .groupBy("cl")
      .agg(count(lit(1)).as("n_total"),
        sum(when(tombstoned(col("vec_id")), 0L).otherwise(1L)).as("n_live"))
      .withColumn("live_milli", expr("n_live * 1000 div n_total"))
      .withColumn("needs_compaction", col("live_milli") < 700)
      .select("cl", "n_total", "n_live", "live_milli", "needs_compaction")
      .orderBy("cl")
  }

  /** q162: embedding near-dup CLUSTERS — the grouping step a dedup
    * pipeline runs after pair generation: q74's LSH-prefiltered,
    * cosine-verified pairs become edges, connected components
    * (iterative min-label propagation, [[graft.operators
    * .GraphComponents]] — the reference clusters person/lab dups the
    * same way, GraphX `connectedComponents` in
    * `deduplication/PersonDeduplicationStage.scala:150-159`) give
    * every vector a cluster id, and the canonical survivor is the
    * minimum vec_id (keep = vec_id == component), with cluster sizes
    * for the curation report. Dup graphs are forests of tiny
    * clusters (diameter 2-5), so label propagation converges in
    * single-digit rounds at any corpus size; each round is one
    * equi-join + one combinable min aggregate on the node id. Oracle:
    * recursive min-label reachability over the same pair CTEs. */
  def q162EmbeddingDupClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val edges = candCosines(s, dir)
      .filter(col("cosine") >= MinDupCosine)
      .select(col("v1").as("src"), col("v2").as("dst"))
    val comp = graft.operators.GraphComponents.connectedComponents(
        emb.select(col("vec_id").as("node")), edges)
      .select(col("node").as("vec_id"), col("comp").as("component"))
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("component"))
      .withColumn("keep", col("vec_id") === col("component"))
      .select("vec_id", "component", "cluster_size", "keep")
      .orderBy("vec_id")
  }

  // MMR constants (Carbonell & Goldstein 1998's diversified ranking):
  // candidate pool per query, picks per query, λ = 0.7 held in tenths
  // so the score 7·rel − 3·maxsim stays pure integer (division-free —
  // trunc-vs-floor semantics on negatives never arises)
  private val MmrPool = 10
  private val MmrK = 5

  /** q163: MMR re-ranking — maximal marginal relevance (Carbonell &
    * Goldstein 1998) over the brute-force top-[[MmrPool]]: greedily
    * pick [[MmrK]] results per query maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    * diversification pass RAG retrieval stacks run so the context
    * window doesn't fill with near-identical passages (the natural
    * consumer of this engine's near-dup machinery: q74 finds the
    * redundancy, MMR avoids returning it). All integer micro-units;
    * the greedy argmax ties break by vec_id, so both engines walk the
    * identical selection sequence.
    *
    * Scale shape: the candidate pool is the q30 broadcast-batch ×
    * linear-corpus top-k; everything after — the ≤ pool² per-query
    * sim matrix and the [[MmrK]] unrolled selection rounds (each one
    * join + one combinable max-aggregate + one ≤ pool-row window) —
    * is dimension-sized (≤ 20·100 rows) regardless of corpus scale.
    * The rounds are a STATIC unroll (fixed K), not a driver loop. */
  def q163MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // Both corpus-derived frames are persisted: the unrolled selection
    // rounds below reference them (and each other's output) MULTIPLE
    // times, and without a cache each branch of the growing plan
    // re-runs the corpus-wide top-k scan — measured 13.5 s vs ~2 s at
    // sf0.1. Dimension-sized (≤ 20·pool and ≤ 20·pool² rows), so the
    // cache is bytes; Shared.clear() evicts them with the rest.
    // parts = qid: HashPartitioning(qid) satisfies the clustering of
    // EVERY downstream operator in the selection rounds (joins keyed
    // (qid, vec_id)/(qid, v2), the group-by, the rank window — qid is
    // a subset of each key set), so the K unrolled rounds plan with no
    // exchange of their own
    val cands = Shared.memoized(s, dir, "mmrCands", Seq("qid"))(
      VectorSearch.cosineTopK(
          emb.select("vec_id", "embedding"), queriesOf(emb), MmrPool)
        .select(col("qid"), col("vec_id"),
          round(col("cosine") * 1e6).cast("long").as("rel_micro")))
    val sims = Shared.memoized(s, dir, "mmrSims", Seq("qid"))(
      cands.select(col("qid"), col("vec_id").as("v1"))
        .join(cands.select(col("qid"), col("vec_id").as("v2")), Seq("qid"))
        .filter(col("v1") =!= col("v2"))
        .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
        .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
        .select(col("qid"), col("v1"), col("v2"),
          round(cosine(col("e1"), col("e2")) * 1e6).cast("long").as("sim_micro")))
    val w = Window.partitionBy("qid").orderBy(col("mmr_deci").desc, col("vec_id"))
    var all = cands
      .withColumn("mmr_deci", lit(7L) * col("rel_micro"))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") === 1)
      .select(col("qid"), col("vec_id"), col("rel_micro"),
        col("mmr_deci"), lit(1).as("pick_rank"))
    for (r <- 2 to MmrK) {
      val pick = cands
        .join(all.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"),
          "left_anti")
        .join(sims.select(col("qid"), col("v1").as("vec_id"), col("v2"),
          col("sim_micro")), Seq("qid", "vec_id"))
        .join(all.select(col("qid"), col("vec_id").as("v2")), Seq("qid", "v2"))
        .groupBy("qid", "vec_id", "rel_micro")
        .agg(max("sim_micro").as("maxsim"))
        .withColumn("mmr_deci",
          lit(7L) * col("rel_micro") - lit(3L) * col("maxsim"))
        .withColumn("pr", row_number().over(w))
        .filter(col("pr") === 1)
        .select(col("qid"), col("vec_id"), col("rel_micro"),
          col("mmr_deci"), lit(r).as("pick_rank"))
      // pick_r references `all` TWICE (anti-join + picked-side join):
      // left untruncated, the LOGICAL plan doubles per round and
      // Catalyst re-analyzes a 2^K-branch tree — measured 9.2 s of
      // pure driver-side analysis at K=5 against 0.2 s of execution.
      // localCheckpoint (eager, ≤ 20·r rows) truncates the lineage to
      // an RDD leaf per round, the q121 bounded-lineage rule; the
      // final round stays a live plan so the served plan shows the
      // real aggregation shape
      all =
        if (r < MmrK) all.unionByName(pick).localCheckpoint()
        else all.unionByName(pick)
    }
    all.orderBy("qid", "pick_rank")
  }

  // SQ8 constants: candidate pool fetched on the compressed codes
  // before the exact re-rank keeps the final top-[[K]]
  private val Sq8Pool = 20

  /** Neighbours per node in the q168 kNN graph. */
  private val KnnK = 3

  /** q180: TOP PRINCIPAL COMPONENT of the embedding distribution —
    * exact-integer covariance accumulation + three unrolled power
    * iterations (the PCA pass an embedding pipeline runs before
    * whitening, dead-direction removal, or PCA-based dimensionality
    * reduction; complements q169's per-dimension marginals with the
    * CROSS-dimension structure they cannot see). The covariance uses
    * the shift-invariant form n·Σxᵢxⱼ − Σxᵢ·Σxⱼ in DECIMAL(38,0)
    * (q169's overflow discipline — the micro grid's +1e6 shift
    * cancels exactly), so the Dim×Dim matrix is EXACT at any corpus
    * size and partitioning. Power iterations run on that Dim²-row
    * integer matrix: w = C·v with a truncating integer rescale
    * (DIV 10¹², spelled sign-aware in the oracle because DuckDB's //
    * floors), one sqrt per iteration on an exactly-summed integer
    * norm² — both engines walk the identical trajectory, and
    * ties/signs are fixed by the all-ones start. Output: the
    * micro-quantized eigenvector plus the explained-variance share
    * (Rayleigh quotient over the trace) in milli.
    *
    * Scale shape: ONE combinable pass over the corpus accumulates all
    * Dim² sums (the per-vector Dim² fan-out is map-side and combines
    * before the shuffle — Dim²-row traffic at any n); the iterations
    * are Dim²-sized exact integer arithmetic on the collected matrix
    * (driver-scalar class — see [[q180PcaPower]]'s round-17 note). */
  /** Round 17 (guide §1.2/§5): the corpus work of q180 is exactly ONE
    * combinable covariance pass; the three power iterations then
    * operate on the Dim²-row integer matrix — dimension-sized at any
    * corpus scale, i.e. the S9 driver-scalar class (the weight walks'
    * argmin collects are the precedent). The previous spelling ran
    * the iterations as distributed jobs over the persisted Dim²-row
    * frame: 3 localCheckpoints + per-iteration broadcasts + the final
    * Rayleigh chain ≈ 10 scheduler round-trips over 4096 rows, which
    * dominated the query (9.0 s vs ~2.5 s at sf0.1, zero change in
    * bytes read). The driver mirror reproduces Spark's arithmetic
    * EXACTLY — DECIMAL(38,0) sums as BigInt, `DIV` as BigInteger
    * truncating division, Round(double) as BigDecimal HALF_UP,
    * Decimal→Double via BigDecimal.doubleValue — so the trajectory
    * (and the oracle hash) is bit-identical; the DuckDB oracle replays
    * the same unrolled walk unchanged. */
  def q180PcaPower(s: SparkSession, dir: String): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val covRows = pcaCovariance(s, dir).collect()
    // Spark Round on DoubleType: BigDecimal HALF_UP, then CAST(BIGINT)
    def sparkRound(x: Double): Long =
      JBD.valueOf(x).setScale(0, RoundingMode.HALF_UP).doubleValue().toLong
    // Decimal→Double cast = toJavaBigDecimal.doubleValue
    def toD(b: BigInt): Double = new JBD(b.bigInteger).doubleValue()
    def cvOf(r: org.apache.spark.sql.Row): BigInt =
      BigInt(r.getDecimal(2).toBigIntegerExact)
    val div = BigInt(1000000000000L)
    // w = C·v followed by the truncating integer rescale (sum of
    // DECIMAL products, then DIV 1e12 — BigInteger division truncates
    // toward zero exactly like Decimal.quot)
    def wOf(v: Map[Int, Long]): Map[Int, Long] = {
      val acc = scala.collection.mutable.Map.empty[Int, BigInt]
      covRows.foreach { r =>
        val j = r.getInt(1)
        if (v.contains(j)) {
          val i = r.getInt(0)
          acc(i) = acc.getOrElse(i, BigInt(0)) + cvOf(r) * v(j)
        }
      }
      acc.iterator.map { case (i, s) => i -> (s / div).toLong }.toMap
    }
    // all-ones (×1e6) start over the dimensions present in column 0
    var v: Map[Int, Long] = covRows.collect {
      case r if r.getInt(1) == 0 => r.getInt(0) -> 1000000L
    }.toMap
    for (_ <- 1 to 3) {
      val w = wOf(v)
      val n2 = w.valuesIterator.map(x => BigInt(x) * x).sum
      // n2 = 0 (zero covariance matrix) yields the zero vector — the
      // same guard as the distributed CASE (0/0 would diverge engines)
      v = if (n2 == 0) w.map { case (i, _) => i -> 0L }
      else {
        val nrm = math.sqrt(toD(n2))
        w.map { case (i, x) => i -> sparkRound(x.toDouble / nrm * 1e6) }
      }
    }
    val w4 = wOf(v)
    val trace = covRows.iterator
      .filter(r => r.getInt(0) == r.getInt(1)).map(cvOf).sum
    // Rayleigh/trace ratio over the v3 ⋈ w4 inner join, in DOUBLES of
    // exactly-agreed integers — operation order mirrors the SQL
    // (a·1000·1e12 / b / c, left-associated)
    val both = v.keySet.intersect(w4.keySet)
    val svw = both.iterator.map(i => BigInt(v(i)) * w4(i)).sum
    val svv = both.iterator.map(i => BigInt(v(i)) * v(i)).sum
    val ev = if (svv == 0 || trace == 0) 0L
      else sparkRound(toD(svw) * 1000 * 1e12 / toD(svv) / toD(trace))
    val out = v.toSeq.sortBy(_._1).map { case (i, x) =>
      org.apache.spark.sql.Row(i, x, ev) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v_mic",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ev_milli",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(java.util.Arrays.asList(out: _*), schema)
      .orderBy("pos")
  }

  /** q180's distributed leg — the single combinable covariance pass
    * (i, j, cv = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ in DECIMAL(38,0)), exposed for
    * NewQueryPlanSpec's physical pin. */
  private[graft] def pcaCovariance(
      s: SparkSession, dir: String): DataFrame = {
    val q = quantized(Tables.embeddings(s, dir))
    // join-free outer-product fan-out: explode i carrying qe, then the
    // j-products map-side via transform — the per-element product is a
    // LONG (≤ ~1.6e12, per-pair not per-corpus), only the SUM needs
    // DECIMAL; everything combines map-side before the one Dim²-row
    // exchange (a vec_id self-join spelling shuffles the exploded
    // corpus twice and measured 3× slower at sf0.1)
    val xi = q.select(col("qe"), posexplode(col("qe")).as(Seq("i", "xi")))
    // UPPER TRIANGLE only (C is symmetric): j = i + jo over the tail
    // slice — half the fan-out rows and half the per-row multiply work
    // of the full outer product; the lower triangle is mirrored from
    // the aggregated Dim²/2-row frame afterwards (a map, not a scan)
    val sxyUpper = xi
      .select(col("i"), posexplode(
        expr(s"transform(slice(qe, i + 1, $Dim - i), x -> xi * x)"))
        .as(Seq("jo", "p")))
      .select(col("i"), (col("i") + col("jo")).as("j"), col("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(38,0)")).as("sxy"))
    val sxy = sxyUpper.unionByName(sxyUpper.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("sxy")))
    val sx = q.select(posexplode(col("qe")).as(Seq("i", "xi")))
      .groupBy("i")
      .agg(sum("xi").as("s"), count(lit(1)).as("n"))
    sxy
      .join(broadcast(sx.select(col("i"), col("s").as("si"), col("n"))),
        Seq("i"))
      .join(broadcast(sx.select(col("i").as("j"), col("s").as("sj"))),
        Seq("j"))
      .select(col("i"), col("j"), expr(
        "n * sxy - CAST(si AS DECIMAL(38,0)) * sj").as("cv"))
  }

  // DBSCAN parameters: eps as a cosine floor (lower than q74's 0.3
  // near-dup bar — density needs a denser neighbour graph), and the
  // minimum neighbour count that makes a point a CORE point
  private val DbscanEps = 0.25
  private val DbscanMinPts = 3

  /** q178: DBSCAN-STYLE DENSITY CLUSTERING (Ester et al. 1996) over
    * the LSH candidate graph — the density-based complement to q162's
    * single-threshold connected components: a point is CORE when it
    * has ≥ [[DbscanMinPts]] neighbours within cosine ≥ [[DbscanEps]],
    * clusters are connected components of the CORE-CORE subgraph,
    * non-core points with a core neighbour join that neighbour's
    * cluster as BORDER points (smallest cluster id — deterministic),
    * everything else is NOISE. The core/border/noise triage is what
    * q162 cannot express: a chain of weak pairwise links no longer
    * merges two dense clusters through a sparse bridge point, and the
    * noise class is exactly the outlier report a curation pipeline
    * sends to review.
    *
    * Scale shape: neighbourhood candidates are the SAME corpus-derived
    * LSH buckets as q31/q74/q168 (bounded depth at any n — never
    * all-pairs; the memoized bucket table is built once per session),
    * degrees are one combinable count over the symmetrized pair list,
    * and the component loop runs on the CORE subgraph only (≤ the
    * near-dup graph q162 already iterates). The oracle replays the
    * same construction with a recursive-CTE closure. */
  def q178Dbscan(s: SparkSession, dir: String): DataFrame = {
    val (sym, res) = dbscanChain(s, dir)
    val out = res.localCheckpoint()
    sym.unpersist()
    out
  }

  /** The q178 chain BEFORE the checkpoint/unpersist epilogue, exposed
    * for NewQueryPlanSpec (the fsTrajectory pattern). Returns (cached
    * symmetrized neighbour frame to unpersist, result frame). */
  private[graft] def dbscanChain(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    // the banded candidate + exact-cosine pass is the memoized
    // candCosines frame shared with q74/q168 (round 18); DBSCAN's
    // neighbourhood predicate is its eps filter
    val nb = candCosines(s, dir)
      .filter(col("cosine") >= DbscanEps)
      .select("v1", "v2")
    // the symmetrized neighbour list feeds FOUR consumers (degrees,
    // the core-core edges, border assignment, the output join) —
    // persist so the eps filter over the candCosines cache runs once.
    // Cached hash-partitioned on `a` at a STATE-sized count (the
    // graph is edge-list-sized, not corpus-sized — round 18, guide
    // §2.2): the union of two 32-partition cached reads otherwise
    // persists as 64 near-empty partitions that every consumer pays
    // 64 task launches to read, and the deg groupBy + both semi
    // joins re-shuffle; off the a-partitioned cache the deg
    // aggregation plans exchange-free
    val sym = nb.select(col("v1").as("a"), col("v2").as("b"))
      .unionByName(nb.select(col("v2").as("a"), col("v1").as("b")))
      .repartition(8, col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val core = deg.filter(col("deg") >= DbscanMinPts).select("a")
    val coreEdges = sym
      .join(core, Seq("a"), "semi")
      .join(core.select(col("a").as("b")), Seq("b"), "semi")
      .select(col("a").as("src"), col("b").as("dst"))
    // the eps-0.25 core graph is much denser than q162's 0.3 dup
    // forest and min-label propagation pays a full round per diameter
    // step; the alternating-star variant contracts it in O(log2 n)
    // rounds, and the per-round frames are graph-sized (17k edges at
    // sf0.1) so the round loop runs at state-sized shuffle parallelism
    // (the EventStream drainSized rationale) — together ~2.5x
    // state-sized round partitions are pinned INSIDE the operator
    // since round 18 (GraphComponents.withStatePartitions), so every
    // CC consumer gets the q178 treatment, not just this one
    val comp = graft.operators.GraphComponents.connectedComponentsStar(
        core.select(col("a").as("node")), coreEdges)
      .localCheckpoint()
      .select(col("node").as("a"), col("comp").as("cluster"))
    val border = sym
      .join(core, Seq("a"), "anti")
      .join(comp.select(col("a").as("b"), col("cluster")), Seq("b"))
      .groupBy("a").agg(min("cluster").as("cluster"))
    val out = emb.select(col("vec_id"))
      .join(deg.select(col("a").as("vec_id"), col("deg")), Seq("vec_id"),
        "left")
      .join(comp.select(col("a").as("vec_id"),
        col("cluster").as("core_cl")), Seq("vec_id"), "left")
      .join(border.select(col("a").as("vec_id"),
        col("cluster").as("border_cl")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        when(col("core_cl").isNotNull, "core")
          .when(col("border_cl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("core_cl"), col("border_cl"), lit(-1L)).as("cluster"))
      .orderBy("vec_id")
    (sym, out)
  }

  /** q168: kNN-GRAPH construction — top-[[KnnK]] neighbours for EVERY
    * node (not a query batch), the graph primitive behind SemDeDup
    * variants, label propagation, and graph-based dedup: candidates
    * come from the SAME corpus-derived LSH buckets q31/q74 use (banded
    * self-join — linear in the corpus at the derived width, never
    * all-pairs), each undirected candidate pair scores its exact
    * cosine ONCE, and the per-node top-k ranks the symmetrized edge
    * list. Nodes whose buckets hold no other member are absent (an
    * isolated node has no k-nearest edges at this resolution — the
    * honest LSH answer; RECALL.md owns the quality number).
    *
    * Scale shape: bucket join bounded by the derived band width
    * (buckets ~16 deep at any n), cosine touched once per candidate
    * PAIR (half the symmetrized volume), one window over the per-node
    * edge lists. */
  /** The ranked kNN edge list pre-sort, memoized (round 18): q171's
    * two label-prop rounds re-ran the symmetrize + rank window on
    * every call — the graph is built once per session now. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "knnEdges") {
      // the banded candidate + exact-cosine pass is the memoized
      // candCosines frame shared with q74/q178 (round 18)
      val scored = candCosines(s, dir)
      val sym = scored.select(col("v1").as("src"), col("v2").as("dst"), col("cosine"))
        .unionByName(scored.select(col("v2").as("src"), col("v1").as("dst"),
          col("cosine")))
      val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
      sym.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= KnnK)
        .select("src", "dst", "cosine", "rnk")
    }

  def q168KnnGraph(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir).orderBy("src", "rnk")

  /** q169: PER-DIMENSION EMBEDDING PROFILE — the ANALYZE pass for a
    * vector column (q127's column profile, embedding-side): count,
    * exact integer mean/variance, and min/max per dimension over the
    * micro-quantized grid. This is the stats pass that FEEDS the other
    * vector operators — q166's SQ8 bounds, q170's drift baseline, a
    * dead-dimension detector (var 0) — and like q18/q139 the moments
    * are exact: sums in BIGINT, the second moment in DECIMAL(38,0)
    * (n·Σx² − (Σx)² overflows a long at ~10⁵ vectors), variance as
    * exact integer division — no float reaches the output, so the
    * hash is partitioning-proof at any n. One combinable pass;
    * Dim-row output regardless of corpus size. */
  def q169EmbeddingProfile(s: SparkSession, dir: String): DataFrame =
    quantized(Tables.embeddings(s, dir))
      .select(posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_vecs"),
        sum("v").as("sum_micro"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("sumsq"),
        min("v").as("lo"), max("v").as("hi"))
      .withColumn("mean_micro", expr("sum_micro DIV n_vecs"))
      .withColumn("var_micro2", expr(
        """CAST((n_vecs * sumsq - CAST(sum_micro AS DECIMAL(38,0))
            * sum_micro) DIV (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs)
           AS BIGINT)"""))
      .select("pos", "n_vecs", "sum_micro", "mean_micro", "var_micro2",
        "lo", "hi")
      .orderBy("pos")

  /** q170: EMBEDDING-DISTRIBUTION DRIFT — the model-ops monitor that
    * catches a shifted embedding space before it poisons retrieval or
    * dedup: the held-out slice (`vec_id % 10 = 7`, the q116 batch
    * split) is compared against the base corpus by assigning BOTH to
    * the base corpus's frozen k-means cells (q116's machinery) and
    * computing the Population Stability Index over the K-cell
    * histograms (q136's smoothed PSI, micro-exact). Cells are the
    * right binning for high-dimensional drift: a PSI over raw
    * dimensions misses correlated shifts that cell occupancy sees.
    *
    * Scale shape: one Lloyd pass (broadcast centroids, map-side
    * argmin) per side, two K-row histograms, a K-row full outer +
    * broadcast totals — corpus touched exactly twice, no shuffle
    * bigger than K rows. */
  def q170EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(s, dir)
    val base = quantized(all.filter(col("vec_id") % 10 =!= 7))
    val cur = quantized(all.filter(col("vec_id") % 10 === 7))
    val k = semDedupK(base.count())
    val c0 = base.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cl"), col("qe").as("c"))
    val cents = recomputeCentroids(lloyd2(base, c0, k))
    def cells(q: DataFrame, side: String): DataFrame =
      q.crossJoin(broadcast(cents))
        .withColumn("d",
          graft.functions.VectorExpressions.l2q(col("qe"), col("c")))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cl"))).as("best"))
        .select(col("best.cl").as("cl"))
        .groupBy("cl").agg(count(lit(1)).as(side))
    val hist = cells(base, "base_n")
      .join(cells(cur, "cur_n"), Seq("cl"), "full_outer")
      .na.fill(0L, Seq("base_n", "cur_n"))
    val tot = hist.agg(sum("base_n").as("base_tot"),
      sum("cur_n").as("cur_tot"), count(lit(1)).as("n_cells"))
    hist.crossJoin(broadcast(tot))
      .withColumn("p_base",
        (col("base_n") + 1) / (col("base_tot") + col("n_cells")))
      .withColumn("p_cur",
        (col("cur_n") + 1) / (col("cur_tot") + col("n_cells")))
      .withColumn("psi_micro",
        round((col("p_cur") - col("p_base"))
          * log(col("p_cur") / col("p_base")) * 1e6).cast("long"))
      .select("cl", "base_n", "cur_n", "psi_micro")
      .orderBy("cl")
  }

  /** q166: SCALAR-QUANTIZED (SQ8) ANN — the memory-side trick every
    * production vector store ships (FAISS `SQ8`, Lucene/Elasticsearch
    * `int8_hnsw`): compress each dimension to an 8-bit code against
    * the corpus per-dimension min/max, generate candidates on the
    * compressed codes (4× less memory traffic than float32 — here the
    * SHAPE: codes are exact integers either engine replays), then
    * re-rank the top-[[Sq8Pool]] candidates with the exact cosine so
    * compression error never reaches the served ordering.
    *
    * Scale shape: the per-dimension bounds are one combinable
    * min/max pass (Dim-row result, broadcast back); coding is
    * map-side; the candidate stage is the q30 broadcast-batch ×
    * linear-corpus scan on codes; the exact re-rank touches only
    * batch·pool rows. Codes are integer: code_i =
    * ⌊(x_i−lo_i)·255/(hi_i−lo_i)⌋ over the micro-quantized grid; the
    * candidate metric is the quantized cosine qdot/√‖code‖² (the
    * query norm is constant per qid). */
  /** q166's ranked result pre-sort, memoized for the graders (q118/
    * q172) — the annBrute pattern. */
  private def annSq8(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annSq8")(q166Body(s, dir))

  def q166Sq8Ann(s: SparkSession, dir: String): DataFrame =
    annSq8(s, dir).orderBy("qid", "rnk")

  private def q166Body(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = quantized(emb)
    val bounds = q.select(posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
      .agg(collect_list(struct(col("pos"), col("lo"), col("hi"))).as("plh"))
      .select(array_sort(col("plh")).as("plh"))
      .select(expr("transform(plh, x -> x.lo)").as("lo"),
        expr("transform(plh, x -> x.hi)").as("hi"))
    val coded = q.crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(
        """transform(qe, (x, i) -> CASE WHEN hi[i] = lo[i]
             THEN CAST(0 AS BIGINT)
             ELSE CAST(floor((x - lo[i]) * 255.0 / (hi[i] - lo[i]))
                       AS BIGINT) END)""").as("code"))
    val qc = coded.join(
        queriesOf(emb).select(col("qid")), // fixed ≤20 batch
        col("vec_id") === col("qid"))
      .select(col("qid"), col("code").as("qcode"))
    val scored = coded.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("qdot", expr(
        """aggregate(zip_with(qcode, code, (a, b) -> a * b),
           CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
      // candidate metric is the quantized COSINE (the query-side norm
      // is constant within a qid, so qdot/√‖code‖² ranks identically):
      // raw inner product would rank by norm on isotropic corpora and
      // recall collapses (measured 240‰ vs 1000‰ at the sf0.01 gate)
      .withColumn("dn2", expr(
        """aggregate(code, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"""))
      .withColumn("qscore", expr(
        "CASE WHEN dn2 = 0 THEN -1e18 ELSE qdot / sqrt(dn2) END"))
    val wq = Window.partitionBy("qid")
      .orderBy(col("qscore").desc, col("vec_id"))
    val pool = scored.withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= Sq8Pool)
      .select("qid", "vec_id", "qdot")
    val rer = pool
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "qdot", "cosine", "rnk")
  }

  // PQ constants: M subspaces of Dim/M dims, Ks codes per subspace —
  // M·log2(Ks) = 16 bits/vector vs 2048 for float32 (the FAISS
  // `PQ4x4`/IndexPQ shape); candidate pool fetched on the ADC scores
  // before the exact re-rank keeps the final top-[[K]].
  private val PqM = 4
  private val PqDs = Dim / PqM
  private val PqKs = 16
  private val PqPool = 100

  /** Per-vector subspace slices of a micro-quantized frame:
    * `(vec_id, m, sub)` with m ∈ [0, [[PqM]]) and |sub| = [[PqDs]]. */
  private[graft] def pqSubs(q: DataFrame): DataFrame =
    q.select(col("vec_id"), col("qe"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("vec_id"), col("m"),
        slice(col("qe"), col("m") * lit(PqDs) + lit(1), lit(PqDs)).as("sub"))

  /** Per-subspace Lloyd assignment: nearest codebook entry within the
    * OWN subspace only (the codebook is keyed by m), integer L2, ties
    * to the smallest cl — [[lloydAssign]] with `m` joined through the
    * group keys. */
  private[graft] def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("m"))
      .withColumn("d",
        graft.functions.VectorExpressions.l2q(col("sub"), col("c")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("cl"))).as("best"),
        first("sub").as("sub"))
      .select(col("vec_id"), col("m"), col("sub"), col("best.cl").as("cl"))

  /** Integer-mean codebook recompute per (m, cl) — [[recomputeCentroids]]
    * with the subspace id carried through. */
  private[graft] def pqRecompute(a: DataFrame): DataFrame =
    a.select(col("m"), col("cl"), posexplode(col("sub")).as(Seq("i", "v")))
      .groupBy("m", "cl", "i").agg(expr("sum(v) div count(1)").as("v"))
      .groupBy("m", "cl")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
        x => x.getField("v")).as("c"))

  /** Trained PQ index: codebook `(m, cl, c)` (M·Ks rows — a broadcast
    * dim) and corpus codes `(vec_id, m, cl)` (M small integers per
    * vector — the 128×-compressed representation a PQ store actually
    * holds). Training is the q82/q106 chain per subspace: seed from
    * the [[PqKs]] smallest vec_ids, two Lloyd iterations, final
    * integer-mean recompute; encoding is one more broadcast-argmin
    * pass against the trained book. MEMOIZED per (session, dir): the
    * index is built once and served many times (q173 search, the q118
    * recall leg, the q172 metrics leg — the LSH-bucket precedent). */
  private def pqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val book = Shared.memoized(s, dir, "pqCodebook", Seq("m")) {
      val subs = pqSubs(quantized(Tables.embeddings(s, dir)))
      val c0 = subs.filter(col("vec_id") < PqKs)
        .select(col("m"), col("vec_id").as("cl"), col("sub").as("c"))
      pqRecompute(pqAssign(subs, pqRecompute(pqAssign(subs, c0))))
    }
    val codes = Shared.memoized(s, dir, "pqCodes", Seq("vec_id")) {
      pqAssign(pqSubs(quantized(Tables.embeddings(s, dir))), book)
        .select("vec_id", "m", "cl")
    }
    (book, codes)
  }

  /** q173: PRODUCT-QUANTIZATION ANN (Jégou, Douze & Schmid 2011,
    * "Product quantization for nearest neighbor search" — FAISS
    * `IndexPQ`): the memory-scale companion to q166's SQ8 — each
    * vector is M codebook ids (16 bits here vs 2048-bit float32), and
    * search is ASYMMETRIC DISTANCE COMPUTATION: the query precomputes
    * its distance to every codebook entry (an M×Ks table — batch ×
    * [[PqM]]·[[PqKs]] rows, dimension-sized), so scoring a corpus
    * vector is M table lookups summed — no float arithmetic touches
    * the corpus at serve time. Candidates ranked by ADC integer L2
    * (the micro-unit shift cancels in differences, and the corpus is
    * unit-normalized so L2 order = cosine order up to quantization),
    * top-[[PqPool]] re-ranked with the exact cosine so compression
    * error never reaches the served ordering — the q166 contract.
    *
    * Scale shape: training/encoding is the broadcast-codebook argmin
    * (n·M·Ks subspace distances per pass — the q106 Lloyd shape, and
    * the book is M·Ks rows at ANY corpus size); the ADC table is a
    * broadcast dim; the candidate stage is one map-side-combinable
    * sum over the codes scan (shuffle carries (qid, vec_id, partial
    * sum) — embeddings never move); the exact re-rank touches
    * batch·pool rows. */
  /** q173's ranked result pre-sort, memoized for the graders (q118/
    * q172) — the annBrute pattern. */
  private def annPq(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annPq")(q173Body(s, dir))

  def q173PqAnn(s: SparkSession, dir: String): DataFrame =
    annPq(s, dir).orderBy("qid", "rnk")

  private def q173Body(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (book, codes) = pqIndex(s, dir)
    val qsub = pqSubs(quantized(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax)))
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
    val dtab = qsub.join(broadcast(book), Seq("m"))
      .select(col("qid"), col("m"), col("cl"),
        graft.functions.VectorExpressions.l2q(col("qsub"), col("c")).as("d"))
    val scored = codes.join(broadcast(dtab), Seq("m", "cl"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum("d").as("adist"))
    val wq = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val pool = scored.withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= PqPool)
      .select("qid", "vec_id", "adist")
    val rer = pool
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "adist", "cosine", "rnk")
  }

  /** Residual-PQ index over the q158 coarse cells: `(book, codes)`
    * where codes carry the coarse cell — the IVF-PQ layout (each
    * vector stored as cell id + M residual codes). The residual is
    * `qe − centroid(assigned cell)` with the centroid from the FINAL
    * recompute (the q158 probe table), so query-side residuals
    * against the same table are consistent. MEMOIZED per (session,
    * dir) — q174 search, its q118 recall leg, and its q172 metrics
    * leg serve from one build. */
  private def ivfPqIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val k = semDedupK(Tables.embeddings(s, dir).count())
    val asg = kmeansAssignment(s, dir, k)
    val cents = recomputeCentroids(asg)
    def residuals: DataFrame =
      asg.join(broadcast(cents), Seq("cl"))
        .select(col("vec_id"), col("cl").as("cell"),
          zip_with(col("qe"), col("c"), (a, b) => a - b).as("qe"))
    val book = Shared.memoized(s, dir, "ivfpqBook", Seq("m")) {
      val subs = pqSubs(residuals)
      val c0 = subs.filter(col("vec_id") < PqKs)
        .select(col("m"), col("vec_id").as("cl"), col("sub").as("c"))
      pqRecompute(pqAssign(subs, pqRecompute(pqAssign(subs, c0))))
    }
    val codes = Shared.memoized(s, dir, "ivfpqCodes", Seq("cell")) {
      pqAssign(pqSubs(residuals), book)
        .select(col("vec_id"), col("m"), col("cl").as("pqcl"))
        .join(residuals.select("vec_id", "cell"), Seq("vec_id"))
    }
    (cents, book, codes)
  }

  /** q174: IVF-PQ ANN — the composition every production
    * billion-vector index ships (FAISS `IVFx,PQy`): the q158 coarse
    * k-means cells PRUNE (a probe reads [[NProbe]] cells' codes
    * only — the scanned fraction falls as the corpus grows, q158's
    * property), and PQ codes over the CELL RESIDUALS compress
    * (residuals are small, so the same 16-bit budget quantizes a
    * tighter distribution than q173's raw-vector codes — the reason
    * IVFPQ beats flat PQ at equal bits). Search: probe the NProbe
    * nearest centroids, form the query residual PER PROBED CELL,
    * precompute the ADC table against the residual codebook
    * (batch·NProbe·M·Ks rows — dimension-sized, broadcast), score
    * only the probed cells' codes via the (cell, m, code) equi join,
    * exact-cosine re-rank of the top-[[PqPool]].
    *
    * Scale shape: cells and codebook are the memoized q158/q173
    * builds; the candidate stage touches NProbe cells per query with
    * M lookups per member — no corpus-sized shuffle anywhere (codes
    * are pre-partitioned by cell; the ADC table broadcasts); the
    * re-rank is batch·pool rows. */
  /** q174's ranked result pre-sort, memoized for the graders (q118/
    * q172) — the annBrute pattern. */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame =
    Shared.memoized(s, dir, "annIvfpq")(q174Body(s, dir))

  def q174IvfPq(s: SparkSession, dir: String): DataFrame =
    annIvfPq(s, dir).orderBy("qid", "rnk")

  private def q174Body(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (cents, book, codes) = ivfPqIndex(s, dir)
    val q = quantized(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax))
      .select(col("vec_id").as("qid"), col("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d",
        graft.functions.VectorExpressions.l2q(col("qe"), col("c")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cl"))))
      .filter(col("crnk") <= NProbe)
      .select(col("qid"), col("cl").as("cell"),
        zip_with(col("qe"), col("c"), (a, b) => a - b).as("qres"))
    val qsub = probes
      .select(col("qid"), col("cell"), col("qres"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("qid"), col("cell"), col("m"),
        slice(col("qres"), col("m") * lit(PqDs) + lit(1), lit(PqDs))
          .as("qsub"))
    val dtab = qsub.join(broadcast(book), Seq("m"))
      .select(col("qid"), col("cell"), col("m"), col("cl").as("pqcl"),
        graft.functions.VectorExpressions.l2q(col("qsub"), col("c")).as("d"))
    val scored = codes.join(broadcast(dtab), Seq("cell", "m", "pqcl"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum("d").as("adist"))
    val wq = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val pool = scored.withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= PqPool)
      .select("qid", "vec_id", "adist")
    val rer = pool
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "adist", "cosine", "rnk")
  }

  /** q164: PERSISTED ANN index — the build-once/serve-many lifecycle
    * a production vector index actually lives (build is a full-corpus
    * job, searches are cheap reads): the q158 k-means index artifacts
    * (K-row centroid table + per-vector cell assignments, both exact
    * integer columns so the parquet round trip is lossless) are
    * WRITTEN to the store, read back, and the probe-2 search runs
    * entirely against the LOADED artifacts. The oracle is q158's —
    * byte-identical results prove persistence loses nothing and a
    * reader process needs only the store, not the builder's session.
    * At 100 TB the assignments land bucketed by `cl` so a probe reads
    * NProbe cells' files only (the q65 partition-pruning shape); the
    * centroid table stays a broadcast dim. */
  def q164PersistedIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val k = semDedupK(emb.count())
    val asg = kmeansAssignment(s, dir, k)
    val root =
      s"/tmp/graft_io/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}/ann_index"
    recomputeCentroids(asg).write.mode("overwrite")
      .parquet(s"$root/centroids")
    asg.select("vec_id", "cl").write.mode("overwrite")
      .parquet(s"$root/assignments")
    val cents = s.read.parquet(s"$root/centroids")
    val loadedAsg = s.read.parquet(s"$root/assignments")
    val q = quantized(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < QBatchMax))
      .select(col("vec_id").as("qid"), col("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d",
        graft.functions.VectorExpressions.l2q(col("qe"), col("c")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cl"))))
      .filter(col("crnk") <= NProbe)
      .select("qid", "cl")
    val scored = probes
      .join(loadedAsg, Seq("cl"))
      .filter(col("vec_id") =!= col("qid"))
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qemb")), Seq("qid"))
      .withColumn("cosine", r6(cosine(col("qemb"), col("embedding"))))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "vec_id", "cosine", "rnk")
      .orderBy("qid", "rnk")
  }

  val queries: Map[String, Q] = Map(
    "q173_pq_ann" -> (q173PqAnn _),
    "q174_ivf_pq" -> (q174IvfPq _),
    "q168_knn_graph" -> (q168KnnGraph _),
    "q169_embedding_profile" -> (q169EmbeddingProfile _),
    "q171_label_prop" -> (q171LabelProp _),
    "q172_retrieval_metrics" -> (q172RetrievalMetrics _),
    "q170_embedding_drift" -> (q170EmbeddingDrift _),
    "q166_sq8_ann" -> (q166Sq8Ann _),
    "q164_persisted_index" -> (q164PersistedIndex _),
    "q163_mmr_rerank" -> (q163MmrRerank _),
    "q162_embedding_dup_clusters" -> (q162EmbeddingDupClusters _),
    "q178_dbscan" -> (q178Dbscan _),
    "q180_pca_power" -> (q180PcaPower _),
    "q186_tombstone_serve" -> (q186TombstoneServe _),
    "q188_matryoshka_recall" -> (q188MatryoshkaRecall _),
    "q191_contrastive_triplets" -> (q191ContrastiveTriplets _),
    "q194_multiprobe_lsh" -> (q194MultiprobeLsh _),
    "q187_compaction_report" -> (q187CompactionReport _),
    "q158_ivf_kmeans" -> (q158IvfKmeans _),
    "q116_incremental_ann" -> (q116IncrementalAnn _),
    "q106_semdedup" -> (q106SemDedup _),
    "q132_hard_negatives" -> (q132HardNegatives _),
    "q30_knn_brute" -> (q30KnnBrute _),
    "q31_knn_lsh" -> (q31KnnLsh _),
    "q32_label_centroids" -> (q32LabelCentroids _),
    "q70_ivf_ann" -> (q70IvfAnn _),
    "q74_embedding_dups" -> (q74EmbeddingDups _),
    "q118_ann_recall" -> (q118AnnRecall _),
    "q82_kmeans" -> (q82Kmeans _))

  // ---- oracle SQL --------------------------------------------------

  private def r6Sql(e: String): String =
    s"CAST(round(($e)*1e6) AS BIGINT)/1e6"

  /** The ten q172 method legs, in output order. */
  private[graft] lazy val q172Methods: Seq[String] =
    Seq("lsh", "ivf", "ivf_kmeans", "sq8", "pq", "ivfpq", "mlsh") ++
      MrlDims.map(p => s"mrl$p")

  /** Single-leg q172 oracle (round 12, verdict item 4): the full
    * metric computation for ONE method — truth chain + that leg's
    * index chain only. The all-ten-chains replay exceeds this box's
    * temp disk at sf3 (an IO bound, not a mismatch); replaying leg by
    * leg materializes at most two index chains at a time, so the one
    * unified quality artifact gets its own hash rows at scale via
    * graft.tools.LegVerify + check_oracle. Metric SQL is textually
    * the same aggregation as the main q172 oracle. */
  private[graft] def q172LegOracle(method: String): String = {
    val legSelect = method match {
      case "lsh" =>
        s"(WITH $lshCtes SELECT qid, vec_id, rnk FROM ranked WHERE rnk <= $K)"
      case "ivf" =>
        s"(WITH $ivfCtes SELECT qid, vec_id, rnk FROM ranked WHERE rnk <= $K)"
      case "ivf_kmeans" => s"($ivfKmeansSql)"
      case "sq8"        => s"($sq8Sql)"
      case "pq"         => s"($pqSql)"
      case "ivfpq"      => s"($ivfPqSql)"
      case "mlsh" =>
        s"(WITH $mlshCtes SELECT qid, vec_id, rnk FROM mranked WHERE rnk <= $K)"
      case m if m.startsWith("mrl") => s"(${mrlTopKSql(m.drop(3).toInt)})"
      case m => throw new IllegalArgumentException(s"unknown q172 leg $m")
    }
    s"""WITH truth AS (SELECT qid, vec_id FROM
         (WITH $bruteCtes SELECT qid, vec_id FROM ranked WHERE rnk <= $K)),
       leg AS (SELECT qid, vec_id, rnk FROM $legSelect),
       m AS (SELECT '$method' AS method, a.qid, a.rnk,
           CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         FROM leg a LEFT JOIN truth t
           ON t.qid = a.qid AND t.vec_id = a.vec_id),
       g AS (SELECT method, qid,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(rel) AS BIGINT) AS hits,
           min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
           CAST(sum(CASE WHEN rel = 1
             THEN CAST(round(1e6 / log2(rnk + 1)) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS dcg_micro
         FROM m GROUP BY 1, 2),
       i AS (SELECT CAST(sum(CAST(round(1e6 / log2(t.range + 1))
           AS BIGINT)) AS BIGINT) AS idcg FROM range(1, ${K + 1}) t)
       SELECT method, qid, k, hits,
         coalesce(CAST(1000 AS BIGINT) // first_rel, 0) AS mrr_milli,
         dcg_micro * 1000000 // idcg AS ndcg_micro
       FROM g CROSS JOIN i ORDER BY method, qid"""
  }

  private val bruteCtes =
    s"""q AS (SELECT vec_id AS qid, embedding AS qemb
         FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
       scored AS (SELECT qid, vec_id,
         ${r6Sql(sqlCosine("qemb", "embedding"))} AS cosine
         FROM embeddings CROSS JOIN q WHERE qid <> vec_id),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
         ORDER BY cosine DESC, vec_id) AS rnk FROM scored)"""

  /** The corpus-derived LSH bucket table as a reusable CTE chain
    * ending in `buckets(vec_id, band, key)` — the oracle replay of
    * [[bucketsOf]]: the same integer threshold ladder derives `bits`
    * from `count(*)`, and only the first `Bands · bits` of the 128
    * embedded plane literals participate. */
  private lazy val bucketsCtes =
    s"""${sqlPlanesCte(planes)},
       nb AS (SELECT ${lshBitsSql("count(*)")} AS bits FROM embeddings),
       sbits AS (SELECT vec_id, h, bits,
         CASE WHEN ${sqlDotD("embedding", "plane")} >= 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS bit
         FROM embeddings, planes, nb WHERE h < $Bands * bits),
       buckets AS (SELECT vec_id, h // bits AS band,
         CAST(sum(bit * CAST(power(2, h % bits) AS BIGINT)) AS BIGINT) AS key
         FROM sbits GROUP BY vec_id, h // bits)"""

  private val lshCtes =
    s"""$bucketsCtes,
       qb AS (SELECT vec_id AS qid, band, key FROM buckets
         WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
       cand AS (SELECT DISTINCT qb.qid, b.vec_id
         FROM qb JOIN buckets b ON qb.band = b.band AND qb.key = b.key
         WHERE b.vec_id <> qb.qid),
       scored AS (SELECT cand.qid, cand.vec_id,
         ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
         FROM cand
         JOIN embeddings eq ON eq.vec_id = cand.qid
         JOIN embeddings ev ON ev.vec_id = cand.vec_id),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
         ORDER BY cosine DESC, vec_id) AS rnk FROM scored)"""

  /** Multi-probe LSH ranked chain (ends in `mranked`, rnk unbounded) —
    * the oracle replay of [[mlshResult]], shared by the q194 and q172
    * oracles. */
  private lazy val mlshCtes =
    s"""$bucketsCtes,
       mqb AS (SELECT vec_id AS qid, band, key FROM buckets
         WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
       mprobes AS (SELECT qid, band, key FROM mqb
         UNION ALL
         SELECT qid, band,
           CAST(xor(key, CAST(power(2, j.range) AS BIGINT)) AS BIGINT)
         FROM mqb, range(0, $MaxBits) j, nb WHERE j.range < nb.bits),
       mcand AS (SELECT DISTINCT p.qid, b.vec_id
         FROM mprobes p JOIN buckets b
           ON p.band = b.band AND p.key = b.key
         WHERE b.vec_id <> p.qid),
       mscored AS (SELECT mcand.qid, mcand.vec_id,
         ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
         FROM mcand
         JOIN embeddings eq ON eq.vec_id = mcand.qid
         JOIN embeddings ev ON ev.vec_id = mcand.vec_id),
       mranked AS (SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY cosine DESC, vec_id) AS rnk FROM mscored)"""

  /** Matryoshka P-dim-prefix ranked top-K as a standalone subquery
    * (qid, vec_id, rnk ≤ K) — the oracle replay of [[mrlResult]],
    * shared by the q188 and q172 oracles. */
  private def mrlTopKSql(p: Int): String =
    s"""SELECT qid, vec_id, rnk FROM (
         SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
             ORDER BY ${r6Sql(sqlCosine(
               s"list_slice(eq.embedding, 1, $p)",
               s"list_slice(e.embedding, 1, $p)"))} DESC, e.vec_id)
           AS rnk
         FROM (SELECT vec_id AS qid FROM embeddings
           WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax) q
         JOIN embeddings eq ON eq.vec_id = q.qid
         CROSS JOIN embeddings e
         WHERE e.vec_id <> q.qid)
       WHERE rnk <= $K"""

  /** One unrolled Lloyd iteration: assign to nearest centroid `cents`
    * (integer distance, ties to smallest cl), then integer-mean
    * centroids. Mirrors q82Kmeans's assign+recompute exactly. */
  private def kmeansIterSql(n: Int, cents: String): String =
    s"""d$n AS (SELECT vec_id, qe, cl,
         list_sum(list_transform(range(1, ${Dim + 1}),
           i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS d
       FROM q CROSS JOIN $cents),
     a$n AS (SELECT vec_id, qe, cl FROM
       (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d, cl) AS rn FROM d$n)
       WHERE rn = 1),
     m$n AS (SELECT cl, i, CAST(sum(qe[i]) AS BIGINT) // count(*) AS v
       FROM a$n, range(1, ${Dim + 1}) t(i) GROUP BY cl, i),
     c$n AS (SELECT cl, list(v ORDER BY i) AS c FROM m$n GROUP BY cl)"""

  /** The q166 SQ8 chain as a standalone SELECT, shared with the q118
    * recall oracle (the q158/ivfKmeansSql precedent). */
  private lazy val sq8Sql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000)
           AS qe FROM embeddings),
         st AS (SELECT t.range AS pos,
             min(qe[t.range]) AS lo, max(qe[t.range]) AS hi
           FROM q, range(1, ${Dim + 1}) t GROUP BY 1),
         bl AS (SELECT list(lo ORDER BY pos) AS lo,
             list(hi ORDER BY pos) AS hi FROM st),
         coded AS (SELECT vec_id,
             list_transform(range(1, ${Dim + 1}), i ->
               CASE WHEN bl.hi[i] = bl.lo[i] THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor((qe[i] - bl.lo[i]) * 255.0
                   / (bl.hi[i] - bl.lo[i])) AS BIGINT) END) AS code
           FROM q CROSS JOIN bl),
         qc AS (SELECT vec_id AS qid, code AS qcode FROM coded
           WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
         scored AS (SELECT qid, vec_id,
             CAST(list_sum(list_transform(range(1, ${Dim + 1}),
               i -> qcode[i] * code[i])) AS BIGINT) AS qdot,
             CAST(list_sum(list_transform(code, x -> x * x))
               AS BIGINT) AS dn2
           FROM coded CROSS JOIN qc WHERE vec_id <> qid),
         scored2 AS (SELECT qid, vec_id, qdot,
             CASE WHEN dn2 = 0 THEN -1e18
               ELSE qdot / sqrt(dn2) END AS qscore
           FROM scored),
         pool AS (SELECT qid, vec_id, qdot FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY qscore DESC, vec_id) AS crnk FROM scored2)
           WHERE crnk <= $Sq8Pool),
         rer AS (SELECT p.qid, p.vec_id, p.qdot,
             ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
           FROM pool p
           JOIN embeddings ev ON p.vec_id = ev.vec_id
           JOIN embeddings eq ON p.qid = eq.vec_id)
         SELECT qid, vec_id, qdot, cosine, rnk FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, vec_id) AS rnk FROM rer)
         WHERE rnk <= $K"""

  /** One unrolled PER-SUBSPACE Lloyd iteration over `sub(vec_id, m,
    * sub)`: assign within the own subspace (integer L2, ties to the
    * smallest cl), then integer-mean codebooks per (m, cl) —
    * [[kmeansIterSql]] with the subspace id carried through every
    * key. Produces `pa$n` (assignment) and `pc$n` (codebook). */
  private def pqIterSql(n: Int, cents: String): String =
    s"""pd$n AS (SELECT s.vec_id, s.m, s.sub, c.cl,
         CAST(list_sum(list_transform(range(1, ${PqDs + 1}),
           i -> (s.sub[i]-c.c[i])*(s.sub[i]-c.c[i]))) AS BIGINT) AS d
       FROM sub s JOIN $cents c ON c.m = s.m),
     pa$n AS (SELECT vec_id, m, sub, cl FROM
       (SELECT *, row_number() OVER (PARTITION BY vec_id, m
          ORDER BY d, cl) AS rn FROM pd$n) WHERE rn = 1),
     pm$n AS (SELECT m, cl, i, CAST(sum(sub[i]) AS BIGINT) // count(*) AS v
       FROM pa$n, range(1, ${PqDs + 1}) t(i) GROUP BY m, cl, i),
     pc$n AS (SELECT m, cl, list(v ORDER BY i) AS c FROM pm$n GROUP BY m, cl)"""

  /** The q173 PQ-ADC chain as a standalone SELECT (the sq8Sql
    * precedent, shared with the q118/q172 oracles): per-subspace
    * codebooks (two Lloyd iterations + final integer-mean recompute =
    * `pc2`), corpus encoded by a third assignment pass (`pa3`), query
    * ADC tables against `pc2`, candidates = sum of M lookups, exact
    * cosine re-rank of the top-[[PqPool]]. `sub` and `codes` are
    * MATERIALIZED — the q160 lesson: the training chain is referenced
    * by every later stage and DuckDB would otherwise inline and
    * re-evaluate it per reference. */
  private lazy val pqSql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000)
           AS qe FROM embeddings),
         sub AS MATERIALIZED (SELECT vec_id, t.range AS m,
             list_transform(range(1, ${PqDs + 1}),
               i -> qe[t.range * $PqDs + i]) AS sub
           FROM q, range(0, $PqM) t),
         pc0 AS (SELECT m, vec_id AS cl, sub AS c FROM sub
           WHERE vec_id < $PqKs),
         ${pqIterSql(1, "pc0")},
         ${pqIterSql(2, "pc1")},
         ${pqIterSql(3, "pc2")},
         codes AS MATERIALIZED (SELECT vec_id, m, cl FROM pa3),
         qb AS (SELECT vec_id AS qid, m, sub AS qsub FROM sub
           WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
         dtab AS (SELECT qid, c.m, c.cl,
             CAST(list_sum(list_transform(range(1, ${PqDs + 1}),
               i -> (qsub[i]-c.c[i])*(qsub[i]-c.c[i]))) AS BIGINT) AS d
           FROM qb JOIN pc2 c ON c.m = qb.m),
         adc AS (SELECT qid, codes.vec_id,
             CAST(sum(d) AS BIGINT) AS adist
           FROM codes JOIN dtab ON dtab.m = codes.m AND dtab.cl = codes.cl
           WHERE codes.vec_id <> qid GROUP BY 1, 2),
         pool AS (SELECT qid, vec_id, adist FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY adist, vec_id) AS crnk FROM adc)
           WHERE crnk <= $PqPool),
         rer AS (SELECT p.qid, p.vec_id, p.adist,
             ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
           FROM pool p
           JOIN embeddings ev ON p.vec_id = ev.vec_id
           JOIN embeddings eq ON p.qid = eq.vec_id)
         SELECT qid, vec_id, adist, cosine, rnk FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, vec_id) AS rnk FROM rer)
         WHERE rnk <= $K"""

  /** The q174 IVF-PQ chain as a standalone SELECT: coarse cells via
    * the q158 Lloyd unroll (`a2`/`c2`), per-vector residuals vs the
    * FINAL centroid table, the per-subspace PQ unroll over the
    * residual `sub` CTE ([[pqIterSql]] — the CTE name is the
    * contract), probe-NProbe query residuals, ADC on (cell, m, code),
    * exact re-rank. Heavy shared CTEs MATERIALIZED (the q160
    * lesson). */
  private lazy val ivfPqSql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000)
           AS qe FROM embeddings),
         kk AS (SELECT least(65536, greatest(8,
             CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k FROM embeddings),
         c0 AS (SELECT vec_id AS cl, qe AS c FROM q
           WHERE vec_id < (SELECT k FROM kk)),
         ${kmeansIterSql(1, "c0")},
         ${kmeansIterSql(2, "c1")},
         res AS MATERIALIZED (SELECT a2.vec_id, a2.cl AS cell,
             list_transform(range(1, ${Dim + 1}),
               i -> a2.qe[i] - c.c[i]) AS qe
           FROM a2 JOIN c2 c ON c.cl = a2.cl),
         sub AS MATERIALIZED (SELECT vec_id, t.range AS m,
             list_transform(range(1, ${PqDs + 1}),
               i -> qe[t.range * $PqDs + i]) AS sub
           FROM res, range(0, $PqM) t),
         pc0 AS (SELECT m, vec_id AS cl, sub AS c FROM sub
           WHERE vec_id < $PqKs),
         ${pqIterSql(1, "pc0")},
         ${pqIterSql(2, "pc1")},
         ${pqIterSql(3, "pc2")},
         codes AS MATERIALIZED (SELECT pa3.vec_id, pa3.m,
             pa3.cl AS pqcl, r.cell
           FROM pa3 JOIN res r ON r.vec_id = pa3.vec_id),
         qb AS (SELECT vec_id AS qid, qe FROM q
           WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
         pdq AS (SELECT qid, cl, qe, c,
             CAST(list_sum(list_transform(range(1, ${Dim + 1}),
               i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS BIGINT) AS d
           FROM qb CROSS JOIN c2),
         probes AS (SELECT qid, cl AS cell,
             list_transform(range(1, ${Dim + 1}), i -> qe[i] - c[i])
               AS qres
           FROM (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY d, cl) AS crnk FROM pdq)
           WHERE crnk <= $NProbe),
         qsub AS (SELECT qid, cell, t.range AS m,
             list_transform(range(1, ${PqDs + 1}),
               i -> qres[t.range * $PqDs + i]) AS qsub
           FROM probes, range(0, $PqM) t),
         dtab AS (SELECT qid, cell, b.m, b.cl AS pqcl,
             CAST(list_sum(list_transform(range(1, ${PqDs + 1}),
               i -> (qsub[i]-b.c[i])*(qsub[i]-b.c[i]))) AS BIGINT) AS d
           FROM qsub JOIN pc2 b ON b.m = qsub.m),
         adc AS (SELECT qid, codes.vec_id,
             CAST(sum(d) AS BIGINT) AS adist
           FROM codes JOIN dtab ON dtab.cell = codes.cell
             AND dtab.m = codes.m AND dtab.pqcl = codes.pqcl
           WHERE codes.vec_id <> qid GROUP BY 1, 2),
         pool AS (SELECT qid, vec_id, adist FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY adist, vec_id) AS crnk FROM adc)
           WHERE crnk <= $PqPool),
         rer AS (SELECT p.qid, p.vec_id, p.adist,
             ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
           FROM pool p
           JOIN embeddings ev ON p.vec_id = ev.vec_id
           JOIN embeddings eq ON p.qid = eq.vec_id)
         SELECT qid, vec_id, adist, cosine, rnk FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, vec_id) AS rnk FROM rer)
         WHERE rnk <= $K"""

  val oracles: Map[String, String] = Map(
    "q173_pq_ann" ->
      s"SELECT * FROM ($pqSql) ORDER BY qid, rnk",
    "q174_ivf_pq" ->
      s"SELECT * FROM ($ivfPqSql) ORDER BY qid, rnk",
    "q171_label_prop" ->
      s"""WITH $bucketsCtes,
         cand AS (SELECT DISTINCT b1.vec_id AS v1, b2.vec_id AS v2
           FROM buckets b1 JOIN buckets b2
             ON b1.band = b2.band AND b1.key = b2.key
           WHERE b1.vec_id < b2.vec_id),
         sc AS (SELECT v1, v2,
             ${r6Sql(sqlCosine("e1.embedding", "e2.embedding"))} AS cosine
           FROM cand
           JOIN embeddings e1 ON e1.vec_id = v1
           JOIN embeddings e2 ON e2.vec_id = v2),
         sym AS (SELECT v1 AS src, v2 AS dst, cosine FROM sc
           UNION ALL SELECT v2 AS src, v1 AS dst, cosine FROM sc),
         knn AS MATERIALIZED (SELECT src, dst FROM
           (SELECT *, row_number() OVER (PARTITION BY src
              ORDER BY cosine DESC, dst) AS rnk FROM sym)
           WHERE rnk <= $KnnK),
         seeds AS MATERIALIZED (SELECT vec_id,
             CASE WHEN vec_id % 4 = 0 THEN CAST(label AS BIGINT) END
               AS seed_lab
           FROM embeddings),
         l0 AS MATERIALIZED (SELECT vec_id, seed_lab AS lab FROM seeds),
         v1r AS (SELECT e.src, l.lab, count(*) AS votes
           FROM knn e JOIN l0 l ON l.vec_id = e.dst
           WHERE l.lab IS NOT NULL GROUP BY 1, 2),
         w1 AS (SELECT src AS vec_id, lab AS vote_lab FROM
           (SELECT *, row_number() OVER (PARTITION BY src
              ORDER BY votes DESC, lab) AS rk FROM v1r) WHERE rk = 1),
         l1 AS MATERIALIZED (SELECT s.vec_id,
             coalesce(s.seed_lab, w.vote_lab, p.lab) AS lab
           FROM seeds s
           JOIN l0 p ON p.vec_id = s.vec_id
           LEFT JOIN w1 w ON w.vec_id = s.vec_id),
         v2r AS (SELECT e.src, l.lab, count(*) AS votes
           FROM knn e JOIN l1 l ON l.vec_id = e.dst
           WHERE l.lab IS NOT NULL GROUP BY 1, 2),
         w2 AS (SELECT src AS vec_id, lab AS vote_lab FROM
           (SELECT *, row_number() OVER (PARTITION BY src
              ORDER BY votes DESC, lab) AS rk FROM v2r) WHERE rk = 1),
         l2 AS (SELECT s.vec_id,
             coalesce(s.seed_lab, w.vote_lab, p.lab) AS lab
           FROM seeds s
           JOIN l1 p ON p.vec_id = s.vec_id
           LEFT JOIN w2 w ON w.vec_id = s.vec_id)
         SELECT e.vec_id, CAST(e.label AS BIGINT) AS true_label,
           l2.lab AS predicted, e.vec_id % 4 = 0 AS is_seed,
           coalesce(l2.lab = CAST(e.label AS BIGINT), false) AS correct
         FROM embeddings e JOIN l2 ON l2.vec_id = e.vec_id
         ORDER BY e.vec_id""",
    "q172_retrieval_metrics" ->
      s"""WITH truth AS (SELECT qid, vec_id FROM
           (WITH $bruteCtes SELECT qid, vec_id FROM ranked WHERE rnk <= $K)),
         lsh AS (SELECT qid, vec_id, rnk FROM
           (WITH $lshCtes SELECT qid, vec_id, rnk FROM ranked WHERE rnk <= $K)),
         ivf AS (SELECT qid, vec_id, rnk FROM
           (WITH $ivfCtes SELECT qid, vec_id, rnk FROM ranked WHERE rnk <= $K)),
         ivfk AS (SELECT qid, vec_id, rnk FROM ($ivfKmeansSql)),
         sq8c AS (SELECT qid, vec_id, rnk FROM ($sq8Sql)),
         pqc AS (SELECT qid, vec_id, rnk FROM ($pqSql)),
         ivfpqc AS (SELECT qid, vec_id, rnk FROM ($ivfPqSql)),
         mlshc AS (SELECT qid, vec_id, rnk FROM
           (WITH $mlshCtes SELECT qid, vec_id, rnk FROM mranked
            WHERE rnk <= $K)),
         ${MrlDims.map(p =>
            s"mrlc$p AS (SELECT qid, vec_id, rnk FROM (${mrlTopKSql(p)}))")
            .mkString(",\n         ")},
         m AS (
           ${(Seq("lsh" -> "lsh", "ivf" -> "ivf", "ivf_kmeans" -> "ivfk",
              "sq8" -> "sq8c", "pq" -> "pqc", "ivfpq" -> "ivfpqc",
              "mlsh" -> "mlshc") ++
              MrlDims.map(p => s"mrl$p" -> s"mrlc$p"))
             .map { case (name, cte) =>
               s"""SELECT '$name' AS method, a.qid, a.rnk,
                 CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
               FROM $cte a LEFT JOIN truth t
                 ON t.qid = a.qid AND t.vec_id = a.vec_id"""
             }.mkString("\n           UNION ALL\n           ")}),
         g AS (SELECT method, qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(rel) AS BIGINT) AS hits,
             min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
             CAST(sum(CASE WHEN rel = 1
               THEN CAST(round(1e6 / log2(rnk + 1)) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS dcg_micro
           FROM m GROUP BY 1, 2),
         i AS (SELECT CAST(sum(CAST(round(1e6 / log2(t.range + 1))
             AS BIGINT)) AS BIGINT) AS idcg FROM range(1, ${K + 1}) t)
         SELECT method, qid, k, hits,
           coalesce(CAST(1000 AS BIGINT) // first_rel, 0) AS mrr_milli,
           dcg_micro * 1000000 // idcg AS ndcg_micro
         FROM g CROSS JOIN i ORDER BY method, qid""",
    "q169_embedding_profile" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000)
           AS qe FROM embeddings),
         ex AS (SELECT t.range - 1 AS pos, qe[t.range] AS v
           FROM q, range(1, ${Dim + 1}) t),
         g AS (SELECT pos, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(v) AS BIGINT) AS sum_micro,
             sum(CAST(v AS HUGEINT) * v) AS sumsq,
             min(v) AS lo, max(v) AS hi
           FROM ex GROUP BY pos)
         SELECT pos, n_vecs, sum_micro,
           sum_micro // n_vecs AS mean_micro,
           CAST((CAST(n_vecs AS HUGEINT) * sumsq
               - CAST(sum_micro AS HUGEINT) * sum_micro)
             // (CAST(n_vecs AS HUGEINT) * n_vecs)
             AS BIGINT) AS var_micro2,
           lo, hi
         FROM g ORDER BY pos""",
    "q168_knn_graph" ->
      s"""WITH $bucketsCtes,
         cand AS (SELECT DISTINCT b1.vec_id AS v1, b2.vec_id AS v2
           FROM buckets b1 JOIN buckets b2
             ON b1.band = b2.band AND b1.key = b2.key
           WHERE b1.vec_id < b2.vec_id),
         sc AS (SELECT v1, v2,
             ${r6Sql(sqlCosine("e1.embedding", "e2.embedding"))} AS cosine
           FROM cand
           JOIN embeddings e1 ON e1.vec_id = v1
           JOIN embeddings e2 ON e2.vec_id = v2),
         sym AS (SELECT v1 AS src, v2 AS dst, cosine FROM sc
           UNION ALL SELECT v2 AS src, v1 AS dst, cosine FROM sc),
         rk AS (SELECT *, row_number() OVER (PARTITION BY src
             ORDER BY cosine DESC, dst) AS rnk FROM sym)
         SELECT src, dst, cosine, rnk FROM rk
         WHERE rnk <= $KnnK ORDER BY src, rnk""",
    "q170_embedding_drift" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings WHERE vec_id % 10 <> 7),
       kk AS (SELECT least(65536, greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k
         FROM q),
       c0 AS (SELECT vec_id AS cl, qe AS c FROM q
         ORDER BY vec_id LIMIT (SELECT k FROM kk)),
       ${kmeansIterSql(1, "c0")},
       ${kmeansIterSql(2, "c1")},
       qb AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings WHERE vec_id % 10 = 7),
       dbb AS (SELECT vec_id, cl,
           CAST(list_sum(list_transform(range(1, ${Dim + 1}),
             i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS BIGINT) AS d
         FROM q CROSS JOIN c2),
       abb AS (SELECT vec_id, cl FROM
         (SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY d, cl) AS rn FROM dbb) WHERE rn = 1),
       dcc AS (SELECT vec_id, cl,
           CAST(list_sum(list_transform(range(1, ${Dim + 1}),
             i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS BIGINT) AS d
         FROM qb CROSS JOIN c2),
       acc AS (SELECT vec_id, cl FROM
         (SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY d, cl) AS rn FROM dcc) WHERE rn = 1),
       hb AS (SELECT cl, CAST(count(*) AS BIGINT) AS base_n
         FROM abb GROUP BY cl),
       hc AS (SELECT cl, CAST(count(*) AS BIGINT) AS cur_n
         FROM acc GROUP BY cl),
       hist AS (SELECT coalesce(hb.cl, hc.cl) AS cl,
           coalesce(base_n, 0) AS base_n, coalesce(cur_n, 0) AS cur_n
         FROM hb FULL OUTER JOIN hc ON hb.cl = hc.cl),
       tot AS (SELECT CAST(sum(base_n) AS BIGINT) AS base_tot,
           CAST(sum(cur_n) AS BIGINT) AS cur_tot,
           CAST(count(*) AS BIGINT) AS n_cells FROM hist)
       SELECT cl, base_n, cur_n,
         CAST(round(((cur_n + 1) / (cur_tot + n_cells)
             - (base_n + 1) / (base_tot + n_cells))
           * ln(((cur_n + 1) / (cur_tot + n_cells))
             / ((base_n + 1) / (base_tot + n_cells))) * 1e6) AS BIGINT)
           AS psi_micro
       FROM hist CROSS JOIN tot ORDER BY cl""",
    "q166_sq8_ann" ->
      s"SELECT * FROM ($sq8Sql) ORDER BY qid, rnk",
    "q158_ivf_kmeans" ->
      s"SELECT * FROM ($ivfKmeansSql) ORDER BY qid, rnk",
    "q132_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qemb,
           label AS qlabel
           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
         scored AS (SELECT qid, qlabel, vec_id, label AS neg_label,
           ${r6Sql(sqlCosine("qemb", "embedding"))} AS cosine
           FROM embeddings CROSS JOIN q WHERE label <> qlabel),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
         SELECT qid, qlabel, vec_id, neg_label, cosine, rnk
         FROM ranked WHERE rnk <= 2 ORDER BY qid, rnk""",
    "q116_incremental_ann" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings WHERE vec_id % 10 <> 7),
       kk AS (SELECT least(65536, greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k
         FROM q),
       c0 AS (SELECT vec_id AS cl, qe AS c FROM q
         ORDER BY vec_id LIMIT (SELECT k FROM kk)),
       ${kmeansIterSql(1, "c0")},
       ${kmeansIterSql(2, "c1")},
       qb AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings WHERE vec_id % 10 = 7),
       db AS (SELECT vec_id, cl,
           CAST(list_sum(list_transform(range(1, ${Dim + 1}),
             i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS BIGINT) AS d
         FROM qb CROSS JOIN c2),
       ab AS (SELECT vec_id, cl, d AS dist_q FROM
         (SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY d, cl) AS rn FROM db)
         WHERE rn = 1),
       cs AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_batch
         FROM ab GROUP BY cl)
       SELECT vec_id, ab.cl, dist_q, n_batch
       FROM ab JOIN cs ON ab.cl = cs.cl ORDER BY vec_id""",
    "q106_semdedup" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings),
       kk AS (SELECT least(65536, greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k
         FROM embeddings),
       c0 AS (SELECT vec_id AS cl, qe AS c FROM q
         WHERE vec_id < (SELECT k FROM kk)),
       ${kmeansIterSql(1, "c0")},
       ${kmeansIterSql(2, "c1")},
       m AS (SELECT a2.vec_id, a2.cl, e.embedding
         FROM a2 JOIN embeddings e USING (vec_id)),
       cells AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_cell
         FROM m GROUP BY cl),
       priors AS (SELECT * FROM (SELECT vec_id, cl, embedding,
           row_number() OVER (PARTITION BY cl ORDER BY vec_id)
             AS prior_rank FROM m)
         WHERE prior_rank <= 256),
       pr AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
           ${r6Sql(sqlCosine("a.embedding", "b.embedding"))} AS cosine
         FROM priors a JOIN m b ON a.cl = b.cl AND a.vec_id < b.vec_id),
       hits AS (SELECT v2 AS vec_id, max(cosine) AS best_prior_cos
         FROM pr WHERE cosine >= $SemDupTau GROUP BY v2)
       SELECT m.vec_id, m.cl, cells.n_cell,
         coalesce(hits.best_prior_cos, -1.0) AS best_prior_cos,
         hits.best_prior_cos IS NOT NULL AS is_dup
       FROM m JOIN cells USING (cl) LEFT JOIN hits USING (vec_id)
       ORDER BY m.vec_id""",
    "q82_kmeans" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings),
       c0 AS (SELECT vec_id AS cl, qe AS c FROM q WHERE vec_id < 8),
       ${kmeansIterSql(1, "c0")},
       ${kmeansIterSql(2, "c1")},
       ssq AS (SELECT cl, CAST(list_sum(list_transform(c, x -> x*x))
           AS BIGINT) AS centroid_ssq FROM c2)
       SELECT g.cl, g.n_vecs, g.min_vec_id, g.max_vec_id, ssq.centroid_ssq
       FROM (SELECT cl, count(*) AS n_vecs, min(vec_id) AS min_vec_id,
           max(vec_id) AS max_vec_id FROM a2 GROUP BY cl) g
       JOIN ssq USING (cl) ORDER BY cl""",
    "q30_knn_brute" ->
      s"""WITH $bruteCtes
         SELECT qid, vec_id, cosine, rnk FROM ranked
         WHERE rnk <= $K ORDER BY qid, rnk""",
    "q31_knn_lsh" ->
      s"""WITH $lshCtes
         SELECT qid, vec_id, cosine, rnk FROM ranked
         WHERE rnk <= $K ORDER BY qid, rnk""",
    "q32_label_centroids" ->
      s"""SELECT label, i AS pos,
         ${r6Sql(s"CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE)*1e6) AS BIGINT)) AS BIGINT)/1e6 / count(*)")} AS centroid,
         count(*) AS n_vecs
         FROM embeddings, range(0, $Dim) t(i)
         GROUP BY label, i ORDER BY label, pos""",
    // q164 serves the q158 search from the persisted index — the
    // oracle is q158's: persistence must lose nothing
    "q164_persisted_index" ->
      s"SELECT * FROM ($ivfKmeansSql) ORDER BY qid, rnk",
    "q163_mmr_rerank" -> mmrSql,
    "q186_tombstone_serve" ->
      s"SELECT * FROM ($tombstoneServeSql) ORDER BY qid, rnk",
    "q194_multiprobe_lsh" ->
      s"""WITH $mlshCtes,
         mres AS (SELECT qid, vec_id FROM mranked WHERE rnk <= $K),
         truth AS (SELECT qid, vec_id FROM
           (WITH $bruteCtes SELECT qid, vec_id FROM ranked
            WHERE rnk <= $K)),
         plainres AS (SELECT qid, vec_id FROM
           (WITH $lshCtes SELECT qid, vec_id FROM ranked
            WHERE rnk <= $K)),
         rec AS (
           SELECT 'lsh' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN plainres a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid
           UNION ALL
           SELECT 'mlsh', t.qid, CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM truth t LEFT JOIN mres a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid)
         SELECT method, qid, k, hits, hits * 1000 // k AS recall_milli
         FROM rec ORDER BY method, qid""",
    "q191_contrastive_triplets" -> {
      def top1Sql(cond: String, alias: String): String =
        s"""$alias AS (SELECT qid, qlabel, vec_id, cosine FROM (
             SELECT q.qid, q.qlabel, e.vec_id,
               ${r6Sql(sqlCosine("eq.embedding", "e.embedding"))} AS cosine,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 ${r6Sql(sqlCosine("eq.embedding", "e.embedding"))} DESC,
                 e.vec_id) AS rnk
             FROM (SELECT vec_id AS qid, label AS qlabel FROM embeddings
               WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax) q
             JOIN embeddings eq ON eq.vec_id = q.qid
             CROSS JOIN embeddings e
             WHERE e.vec_id <> q.qid AND e.label $cond q.qlabel)
           WHERE rnk = 1)"""
      s"""WITH ${top1Sql("=", "pos")},
         ${top1Sql("<>", "neg")}
         SELECT p.qid, p.qlabel, p.vec_id AS pos_id, p.cosine AS pos_cos,
           n.vec_id AS neg_id, n.cosine AS neg_cos,
           CAST(round((p.cosine - n.cosine) * 1e6) AS BIGINT)
             AS margin_micro
         FROM pos p JOIN neg n ON n.qid = p.qid
         ORDER BY p.qid"""
    },
    "q188_matryoshka_recall" -> {
      def legSql(p: Int): String =
        s"""SELECT 'mrl$p' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN (${mrlTopKSql(p)}) a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid"""
      s"""WITH truth AS (SELECT qid, vec_id FROM
           (WITH $bruteCtes SELECT qid, vec_id FROM ranked
            WHERE rnk <= $K)),
         rec AS (${MrlDims.map(legSql).mkString(" UNION ALL ")})
         SELECT method, qid, k, hits, hits * 1000 // k AS recall_milli
         FROM rec ORDER BY method, qid"""
    },
    "q187_compaction_report" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings),
         kk AS (SELECT least(65536, greatest(8,
             CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k FROM embeddings),
         c0 AS (SELECT vec_id AS cl, qe AS c FROM q
           WHERE vec_id < (SELECT k FROM kk)),
         ${kmeansIterSql(1, "c0")},
         ${kmeansIterSql(2, "c1")},
         g AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN vec_id % 10 = 3 THEN 0 ELSE 1 END)
               AS BIGINT) AS n_live
           FROM a2 GROUP BY cl)
         SELECT cl, n_total, n_live,
           n_live * 1000 // n_total AS live_milli,
           n_live * 1000 // n_total < 700 AS needs_compaction
         FROM g ORDER BY cl""",
    "q180_pca_power" -> {
      // one power iteration: w = C·v rescaled by a sign-aware
      // truncating DIV (DuckDB // floors; Spark DIV truncates), then
      // micro-normalize on an exactly-summed integer norm²
      def pcaIterSql(k: Int, prev: String): String =
        s"""w$k AS (SELECT cov.i,
             CASE WHEN sum(cv * v.v) >= 0
               THEN sum(cv * v.v) // 1000000000000
               ELSE -((-sum(cv * v.v)) // 1000000000000) END AS w
           FROM cov JOIN $prev v ON v.i = cov.j GROUP BY cov.i),
           v$k AS (SELECT i, CASE
               WHEN (SELECT sum(w*w) FROM w$k) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(round(CAST(w AS DOUBLE)
                 / sqrt(CAST((SELECT sum(w*w) FROM w$k) AS DOUBLE)) * 1e6)
               AS BIGINT) END AS v FROM w$k)"""
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000)
           AS qe FROM embeddings),
         sx AS (SELECT t.range AS i,
             CAST(sum(qe[t.range + 1]) AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) AS n
           FROM q, range(0, $Dim) t GROUP BY 1),
         sxy AS MATERIALIZED (SELECT t1.range AS i, t2.range AS j,
             sum(CAST(qe[t1.range + 1] AS HUGEINT) * qe[t2.range + 1])
               AS sxy
           FROM q, range(0, $Dim) t1, range(0, $Dim) t2 GROUP BY 1, 2),
         cov AS MATERIALIZED (SELECT sxy.i, sxy.j,
             a.n * sxy.sxy - a.s * b.s AS cv
           FROM sxy JOIN sx a ON a.i = sxy.i JOIN sx b ON b.i = sxy.j),
         v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM sx),
         ${pcaIterSql(1, "v0")},
         ${pcaIterSql(2, "v1")},
         ${pcaIterSql(3, "v2")},
         w4 AS (SELECT cov.i,
             CASE WHEN sum(cv * v.v) >= 0
               THEN sum(cv * v.v) // 1000000000000
               ELSE -((-sum(cv * v.v)) // 1000000000000) END AS w
           FROM cov JOIN v3 v ON v.i = cov.j GROUP BY cov.i),
         tr AS (SELECT sum(cv) AS trace FROM cov WHERE i = j),
         ev AS (SELECT CASE
             WHEN sum(CAST(v.v AS HUGEINT) * v.v) = 0
               OR (SELECT trace FROM tr) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(round(
               CAST(sum(CAST(v.v AS HUGEINT) * w4.w) AS DOUBLE)
               * 1000 * 1e12
               / CAST(sum(CAST(v.v AS HUGEINT) * v.v) AS DOUBLE)
               / CAST((SELECT trace FROM tr) AS DOUBLE)) AS BIGINT) END
             AS ev_milli
           FROM v3 v JOIN w4 ON w4.i = v.i)
         SELECT v.i AS pos, v.v AS v_mic, (SELECT ev_milli FROM ev)
           AS ev_milli
         FROM v3 v ORDER BY pos"""
    },
    "q178_dbscan" ->
      s"""WITH RECURSIVE $bucketsCtes,
         cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
           FROM buckets a JOIN buckets b
             ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         nbr AS (SELECT v1, v2 FROM (SELECT v1, v2,
             ${r6Sql(sqlCosine("e1.embedding", "e2.embedding"))} AS cosine
           FROM cand
           JOIN embeddings e1 ON e1.vec_id = v1
           JOIN embeddings e2 ON e2.vec_id = v2)
           WHERE cosine >= $DbscanEps),
         sym AS (SELECT v1 AS a, v2 AS b FROM nbr
                 UNION ALL SELECT v2, v1 FROM nbr),
         deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg
           FROM sym GROUP BY a),
         core AS (SELECT a FROM deg WHERE deg >= $DbscanMinPts),
         ce AS (SELECT s.a, s.b FROM sym s
           JOIN core c1 ON s.a = c1.a JOIN core c2 ON s.b = c2.a),
         reach(a, b) AS (
           SELECT a, a FROM core
           UNION
           SELECT r.a, ce.b FROM reach r JOIN ce ON r.b = ce.a),
         comp AS (SELECT a, min(b) AS cluster FROM reach GROUP BY a),
         border AS (SELECT s.a, min(c.cluster) AS cluster
           FROM sym s JOIN comp c ON s.b = c.a
           WHERE s.a NOT IN (SELECT a FROM core)
           GROUP BY s.a)
         SELECT e.vec_id, coalesce(d.deg, 0) AS deg,
           CASE WHEN cm.cluster IS NOT NULL THEN 'core'
                WHEN bd.cluster IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(cm.cluster, bd.cluster, -1) AS cluster
         FROM embeddings e
         LEFT JOIN deg d ON d.a = e.vec_id
         LEFT JOIN comp cm ON cm.a = e.vec_id
         LEFT JOIN border bd ON bd.a = e.vec_id
         ORDER BY e.vec_id""",
    "q162_embedding_dup_clusters" ->
      s"""WITH RECURSIVE $bucketsCtes,
         cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
           FROM buckets a JOIN buckets b
             ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         dp AS (SELECT v1, v2 FROM (SELECT v1, v2,
             ${r6Sql(sqlCosine("e1.embedding", "e2.embedding"))} AS cosine
           FROM cand
           JOIN embeddings e1 ON e1.vec_id = v1
           JOIN embeddings e2 ON e2.vec_id = v2)
           WHERE cosine >= $MinDupCosine),
         e2 AS (SELECT v1 AS a, v2 AS b FROM dp
                UNION SELECT v2, v1 FROM dp),
         n(x) AS (SELECT vec_id FROM embeddings),
         reach(a, b) AS (
           SELECT x, x FROM n
           UNION
           SELECT r.a, e2.b FROM reach r JOIN e2 ON r.b = e2.a),
         comp AS (SELECT a AS vec_id, min(b) AS component
           FROM reach GROUP BY a),
         sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
           FROM comp GROUP BY component)
         SELECT c.vec_id, c.component, s.cluster_size,
           c.vec_id = c.component AS keep
         FROM comp c JOIN sizes s USING (component)
         ORDER BY c.vec_id""",
    "q74_embedding_dups" ->
      s"""WITH $bucketsCtes,
         cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
           FROM buckets a JOIN buckets b
             ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         scored AS (SELECT v1, v2,
           ${r6Sql(sqlCosine("e1.embedding", "e2.embedding"))} AS cosine
           FROM cand
           JOIN embeddings e1 ON e1.vec_id = v1
           JOIN embeddings e2 ON e2.vec_id = v2)
         SELECT v1, v2, cosine FROM scored
         WHERE cosine >= $MinDupCosine ORDER BY v1, v2""",
    "q70_ivf_ann" ->
      s"""WITH $ivfCtes
         SELECT qid, vec_id, cosine, rnk FROM ranked
         WHERE rnk <= $K ORDER BY qid, rnk""",
    "q118_ann_recall" ->
      s"""WITH truth AS (SELECT qid, vec_id FROM
           (WITH $bruteCtes SELECT qid, vec_id FROM ranked WHERE rnk <= $K)),
         lsh AS (SELECT qid, vec_id FROM
           (WITH $lshCtes SELECT qid, vec_id FROM ranked WHERE rnk <= $K)),
         ivf AS (SELECT qid, vec_id FROM
           (WITH $ivfCtes SELECT qid, vec_id FROM ranked WHERE rnk <= $K)),
         ivfk AS (SELECT qid, vec_id FROM ($ivfKmeansSql)),
         sq8c AS (SELECT qid, vec_id FROM ($sq8Sql)),
         pqc AS (SELECT qid, vec_id FROM ($pqSql)),
         ivfpqc AS (SELECT qid, vec_id FROM ($ivfPqSql)),
         rec AS (
           SELECT 'lsh' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN lsh a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid
           UNION ALL
           SELECT 'ivf' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN ivf a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid
           UNION ALL
           SELECT 'ivf_kmeans' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN ivfk a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid
           UNION ALL
           SELECT 'sq8' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN sq8c a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid
           UNION ALL
           SELECT 'pq' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN pqc a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid
           UNION ALL
           SELECT 'ivfpq' AS method, t.qid,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM truth t LEFT JOIN ivfpqc a
             ON t.qid = a.qid AND t.vec_id = a.vec_id
           GROUP BY t.qid)
         SELECT method, qid, k, hits, hits * 1000 // k AS recall_milli
         FROM rec ORDER BY method, qid""")

  /** The q163 MMR oracle: the brute top-[[MmrPool]] pool and its
    * pairwise sim matrix, then the [[MmrK]]-round greedy selection
    * unrolled — round r excludes sel(r−1), aggregates each remaining
    * candidate's max sim to the selected set, and argmaxes
    * 7·rel − 3·maxsim (ties by vec_id), exactly the Spark unroll. */
  private lazy val mmrSql: String = {
    val rounds = (2 to MmrK).map { r =>
      s"""m$r AS (SELECT c.qid, c.vec_id, c.rel_micro,
           max(s.sim_micro) AS maxsim
         FROM cands c
         LEFT JOIN sel${r - 1} x0 ON x0.qid = c.qid AND x0.vec_id = c.vec_id
         JOIN msims s ON s.qid = c.qid AND s.v1 = c.vec_id
         JOIN sel${r - 1} x ON x.qid = s.qid AND x.vec_id = s.v2
         WHERE x0.vec_id IS NULL
         GROUP BY c.qid, c.vec_id, c.rel_micro),
       p$r AS (SELECT qid, vec_id, rel_micro, mmr_deci, $r AS pick_rank FROM (
           SELECT qid, vec_id, rel_micro,
             7*rel_micro - 3*maxsim AS mmr_deci,
             row_number() OVER (PARTITION BY qid
               ORDER BY 7*rel_micro - 3*maxsim DESC, vec_id) AS pr
           FROM m$r) WHERE pr = 1),
       sel$r AS (SELECT qid, vec_id FROM sel${r - 1}
         UNION ALL SELECT qid, vec_id FROM p$r)"""
    }.mkString(",\n")
    val arms = (1 to MmrK).map(r =>
      s"SELECT qid, vec_id, rel_micro, mmr_deci, pick_rank FROM p$r")
      .mkString("\n UNION ALL ")
    s"""WITH $bruteCtes,
       cands AS (SELECT qid, vec_id,
         CAST(round(cosine * 1e6) AS BIGINT) AS rel_micro
         FROM ranked WHERE rnk <= $MmrPool),
       msims AS (SELECT c1.qid, c1.vec_id AS v1, c2.vec_id AS v2,
         CAST(round((${sqlCosine("e1.embedding", "e2.embedding")}) * 1e6) AS BIGINT) AS sim_micro
         FROM cands c1
         JOIN cands c2 ON c1.qid = c2.qid AND c1.vec_id <> c2.vec_id
         JOIN embeddings e1 ON e1.vec_id = c1.vec_id
         JOIN embeddings e2 ON e2.vec_id = c2.vec_id),
       p1 AS (SELECT qid, vec_id, rel_micro, 7*rel_micro AS mmr_deci,
           1 AS pick_rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY 7*rel_micro DESC, vec_id) AS pr FROM cands)
         WHERE pr = 1),
       sel1 AS (SELECT qid, vec_id FROM p1),
       $rounds
       $arms
       ORDER BY qid, pick_rank"""
  }

  /** The complete q158 content-derived IVF search as a standalone
    * (unordered) SELECT — the "q158_ivf_kmeans" oracle body and the
    * q118 recall evaluation's third leg. */
  private lazy val ivfKmeansSql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings),
       kk AS (SELECT least(65536, greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k
         FROM embeddings),
       c0 AS (SELECT vec_id AS cl, qe AS c FROM q
         WHERE vec_id < (SELECT k FROM kk)),
       ${kmeansIterSql(1, "c0")},
       ${kmeansIterSql(2, "c1")},
       qb AS (SELECT vec_id AS qid, qe FROM q
         WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
       pd AS (SELECT qid, cl,
           CAST(list_sum(list_transform(range(1, ${Dim + 1}),
             i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS BIGINT) AS d
         FROM qb CROSS JOIN c2),
       probes AS (SELECT qid, cl FROM
         (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d, cl) AS crnk FROM pd)
         WHERE crnk <= $NProbe),
       scored AS (SELECT p.qid, a2.vec_id,
           ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
         FROM probes p
         JOIN a2 ON a2.cl = p.cl
         JOIN embeddings eq ON eq.vec_id = p.qid
         JOIN embeddings ev ON ev.vec_id = a2.vec_id
         WHERE a2.vec_id <> p.qid),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
         ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
       SELECT qid, vec_id, cosine, rnk FROM ranked
       WHERE rnk <= $K"""

  /** q186's oracle: [[ivfKmeansSql]] with the tombstone exclusion on
    * the candidate side — the live corpus's true probe-2 top-K. */
  private lazy val tombstoneServeSql: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000) AS qe
         FROM embeddings),
       kk AS (SELECT least(65536, greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT))) AS k
         FROM embeddings),
       c0 AS (SELECT vec_id AS cl, qe AS c FROM q
         WHERE vec_id < (SELECT k FROM kk)),
       ${kmeansIterSql(1, "c0")},
       ${kmeansIterSql(2, "c1")},
       qb AS (SELECT vec_id AS qid, qe FROM q
         WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
       pd AS (SELECT qid, cl,
           CAST(list_sum(list_transform(range(1, ${Dim + 1}),
             i -> (qe[i]-c[i])*(qe[i]-c[i]))) AS BIGINT) AS d
         FROM qb CROSS JOIN c2),
       probes AS (SELECT qid, cl FROM
         (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d, cl) AS crnk FROM pd)
         WHERE crnk <= $NProbe),
       scored AS (SELECT p.qid, a2.vec_id,
           ${r6Sql(sqlCosine("eq.embedding", "ev.embedding"))} AS cosine
         FROM probes p
         JOIN a2 ON a2.cl = p.cl
         JOIN embeddings eq ON eq.vec_id = p.qid
         JOIN embeddings ev ON ev.vec_id = a2.vec_id
         WHERE a2.vec_id <> p.qid AND a2.vec_id % 10 <> 3),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
         ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
       SELECT qid, vec_id, cosine, rnk FROM ranked
       WHERE rnk <= $K"""

  /** The q70 IVF search as a reusable CTE chain ending in
    * `ranked(qid, vec_id, cosine, rnk)` — shared with the q118 recall
    * evaluation. */
  private lazy val ivfCtes =
    s"""comp AS (SELECT label, i AS pos,
           ${r6Sql(s"CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE)*1e6) AS BIGINT)) AS BIGINT)/1e6 / count(*)")} AS c
           FROM embeddings, range(0, $Dim) t(i)
           GROUP BY label, i),
         cents AS (SELECT label, list(c ORDER BY pos) AS centroid
           FROM comp GROUP BY label),
         q AS (SELECT vec_id AS qid, embedding AS qemb
           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < $QBatchMax),
         probes0 AS (SELECT qid, qemb, label,
           ${r6Sql(sqlCosine("qemb", "centroid"))} AS ccos
           FROM q CROSS JOIN cents),
         probes AS (SELECT qid, qemb, label FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY ccos DESC, label) AS crnk FROM probes0)
           WHERE crnk <= $NProbe),
         scored AS (SELECT p.qid, e.vec_id,
           ${r6Sql(sqlCosine("p.qemb", "e.embedding"))} AS cosine
           FROM probes p JOIN embeddings e ON e.label = p.label
           WHERE e.vec_id <> p.qid),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY cosine DESC, vec_id) AS rnk FROM scored)"""

  // ---- sharded DuckDB replay plans (round-13 verdict item 2) -------

  /** Staged replay plans for the two oracles whose MONOLITHIC DuckDB
    * replays are disk-bound at sf10 volume: q106 materializes an
    * n×K = 625 M-row distance frame, q178 an unbucketed neighbour
    * expansion. Both decompose like the q207 plan in ScalarQueries:
    * the row-independent stages run in shards (bounding DuckDB temp to
    * one shard's expansion), the cross-cutting tail runs once. The SQL
    * here is generated from the SAME constants and helper spellings as
    * the monolithic oracles above (single-sourced — no hand-copied
    * drift), and `tools/shard_replay.py` executes it.
    *
    * Stage kinds: `once` (run as-is), `shard` (run per shard with
    * `{S}`/`{NSH}` substituted — every sharded stage INSERTs into a
    * pre-created table), `loop` (statements split on `;;`, repeated
    * until the stage's single SELECT returns 0 — the min-label
    * fixpoint that replaces q178's recursive `reach` closure, whose
    * row count is Σ|component|² by construction and therefore
    * quadratic in the sf10 replica cliques; the fixpoint computes the
    * identical min-reachable-core-id labelling in O(edges · diameter)).
    * The final stage must leave a `want` table for the comparator. */
  private[graft] def shardReplayPlan(name: String): Seq[(String, String)] = {
    def assignShard(dst: String, cents: String) =
      s"""INSERT INTO $dst SELECT vec_id, qe, cl FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY d, cl) AS rn
           FROM (SELECT q.vec_id, q.qe, c.cl,
               list_sum(list_transform(range(1, ${Dim + 1}),
                 i -> (q.qe[i]-c.c[i])*(q.qe[i]-c.c[i]))) AS d
             FROM (SELECT * FROM qt WHERE vec_id % {NSH} = {S}) q
             CROSS JOIN $cents c))
         WHERE rn = 1"""
    def recompute(dst: String, asg: String) =
      s"""CREATE TABLE $dst AS SELECT cl, list(v ORDER BY i) AS c FROM (
           SELECT cl, i, CAST(sum(qe[i]) AS BIGINT) // count(*) AS v
           FROM $asg, range(1, ${Dim + 1}) t(i) GROUP BY cl, i)
         GROUP BY cl"""
    name match {
      case "q106_semdedup" => Seq(
        "once" ->
          """CREATE TABLE qt AS SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) + 1000000)
             AS qe FROM embeddings""",
        "once" ->
          s"""CREATE TABLE c0 AS SELECT vec_id AS cl, qe AS c FROM qt
             WHERE vec_id < (SELECT least($KMax, greatest(8,
               CAST(ceil(count(*) / 64.0) AS BIGINT))) FROM qt)""",
        "once" -> "CREATE TABLE a1 (vec_id BIGINT, qe BIGINT[], cl BIGINT)",
        "shard" -> assignShard("a1", "c0"),
        "once" -> recompute("c1", "a1"),
        "once" -> "CREATE TABLE a2 (vec_id BIGINT, qe BIGINT[], cl BIGINT)",
        "shard" -> assignShard("a2", "c1"),
        "once" ->
          s"""CREATE TABLE want AS
             WITH m AS (SELECT a2.vec_id, a2.cl, e.embedding
                 FROM a2 JOIN embeddings e USING (vec_id)),
               cells AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_cell
                 FROM m GROUP BY cl),
               priors AS (SELECT * FROM (SELECT vec_id, cl, embedding,
                   row_number() OVER (PARTITION BY cl ORDER BY vec_id)
                     AS prior_rank FROM m)
                 WHERE prior_rank <= $CellCap),
               pr AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
                   ${r6Sql(sqlCosine("a.embedding", "b.embedding"))} AS cosine
                 FROM priors a JOIN m b ON a.cl = b.cl AND a.vec_id < b.vec_id),
               hits AS (SELECT v2 AS vec_id, max(cosine) AS best_prior_cos
                 FROM pr WHERE cosine >= $SemDupTau GROUP BY v2)
             SELECT m.vec_id, m.cl, cells.n_cell,
               coalesce(hits.best_prior_cos, -1.0) AS best_prior_cos,
               hits.best_prior_cos IS NOT NULL AS is_dup
             FROM m JOIN cells USING (cl) LEFT JOIN hits USING (vec_id)""")
      case "q178_dbscan" => Seq(
        "once" -> s"""CREATE TABLE pl AS SELECT h, plane FROM (
             WITH ${graft.operators.VectorSearch.sqlPlanesCte(planes)}
             SELECT * FROM planes)""",
        "once" -> s"""CREATE TABLE nbx AS
             SELECT ${lshBitsSql("count(*)")} AS bits FROM embeddings""",
        "once" -> "CREATE TABLE buckets (vec_id BIGINT, band BIGINT, key BIGINT)",
        "shard" ->
          s"""INSERT INTO buckets
             SELECT vec_id, h // bits AS band,
               CAST(sum(bit * CAST(power(2, h % bits) AS BIGINT))
                 AS BIGINT) AS key
             FROM (SELECT e.vec_id, p.h, nbx.bits,
                 CASE WHEN ${graft.operators.VectorSearch
                   .sqlDotD("e.embedding", "p.plane")} >= 0
                   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
               FROM (SELECT * FROM embeddings
                 WHERE vec_id % {NSH} = {S}) e, pl p, nbx
               WHERE p.h < $Bands * nbx.bits)
             GROUP BY vec_id, h // bits""",
        "once" -> "CREATE TABLE nbr0 (v1 BIGINT, v2 BIGINT)",
        "shard" ->
          s"""INSERT INTO nbr0 SELECT v1, v2 FROM (
               SELECT v1, v2,
                 ${r6Sql(sqlCosine("e1.embedding", "e2.embedding"))} AS cosine
               FROM (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
                   FROM (SELECT * FROM buckets
                     WHERE hash(band, key) % {NSH} = {S}) a
                   JOIN buckets b ON a.band = b.band AND a.key = b.key
                     AND a.vec_id < b.vec_id) c
               JOIN embeddings e1 ON e1.vec_id = c.v1
               JOIN embeddings e2 ON e2.vec_id = c.v2)
             WHERE cosine >= $DbscanEps""",
        // the same pair can surface from different (band, key) groups
        // in different shards — dedupe once, then the DBSCAN tail
        "once" ->
          """CREATE TABLE nbr AS SELECT DISTINCT v1, v2 FROM nbr0;;
             CREATE TABLE sym AS SELECT v1 AS a, v2 AS b FROM nbr
               UNION ALL SELECT v2, v1 FROM nbr;;
             CREATE TABLE deg AS SELECT a, CAST(count(*) AS BIGINT) AS deg
               FROM sym GROUP BY a""",
        "once" ->
          s"""CREATE TABLE core AS SELECT a FROM deg
               WHERE deg >= $DbscanMinPts;;
             CREATE TABLE ce AS SELECT s.a, s.b FROM sym s
               JOIN core c1 ON s.a = c1.a JOIN core c2 ON s.b = c2.a;;
             CREATE TABLE lbl AS SELECT a, a AS cluster FROM core""",
        "loop" ->
          """CREATE OR REPLACE TABLE lbl2 AS
               SELECT l.a, least(l.cluster, coalesce(m.mn, l.cluster))
                 AS cluster
               FROM lbl l LEFT JOIN (SELECT ce.a, min(l2.cluster) AS mn
                 FROM ce JOIN lbl l2 ON l2.a = ce.b GROUP BY ce.a) m
                 ON m.a = l.a;;
             SELECT count(*) FROM lbl l JOIN lbl2 n
               ON l.a = n.a AND l.cluster <> n.cluster;;
             CREATE OR REPLACE TABLE lbl AS SELECT * FROM lbl2""",
        "once" ->
          """CREATE TABLE want AS
             WITH comp AS (SELECT a, cluster FROM lbl),
               border AS (SELECT s.a, min(c.cluster) AS cluster
                 FROM sym s JOIN comp c ON s.b = c.a
                 WHERE s.a NOT IN (SELECT a FROM core) GROUP BY s.a)
             SELECT e.vec_id, coalesce(d.deg, 0) AS deg,
               CASE WHEN cm.cluster IS NOT NULL THEN 'core'
                    WHEN bd.cluster IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               coalesce(cm.cluster, bd.cluster, -1) AS cluster
             FROM embeddings e
             LEFT JOIN deg d ON d.a = e.vec_id
             LEFT JOIN comp cm ON cm.a = e.vec_id
             LEFT JOIN border bd ON bd.a = e.vec_id""")
      case other =>
        throw new IllegalArgumentException(s"no shard plan for $other")
    }
  }
}
