package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.MinHashLSH
import graft.Tables
import graft.SweepOrder.{Family, Vector}
import graft.functions.{Exact, StemExpression, TextFns}

/** ML-adjacent operators from SURVEY.md §2.8-2.9: Porter stem indexing
  * (`analyser/TextEntitiesAnalyser.scala:275-279`), the RandomForest
  * mention classifier (`analyser/AdvancedInstrumentAnalyser
  * .scala:113-118,225-359` — M6), Word2Vec featurization (ibid:169-221
  * — M5), and `MinHashLSH.approxSimilarityJoin`
  * (`matcher/PictureMatcher.scala:54-68` — M4/J9, over text shingles).
  *
  * Training a seeded model can never hash-match DuckDB, but INFERENCE
  * can: q56/q66 predict over the models' FROZEN learned parameters
  * ([[MlFixtures]]) with relational tree-walks and integer centroid
  * math, and q57's oracle replays the frozen seeded LSH coefficients
  * through the same banded candidate join + Jaccard distance the
  * `approxSimilarityJoin` performs — so all ML legs are
  * oracle-verified. MlSpec carries the training determinism,
  * extraction-faithfulness and LSH-recall assertions.
  */
object MlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Stemmed vocabulary index: distinct token → Porter stem, with stem
    * group sizes. Uses the native `graft_stem` expression (codegen'd;
    * see StemExpression) on the distinct vocabulary — tiny relative to
    * the corpus, never per-token-occurrence. */
  def q55StemTokens(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    vocab.withColumn("stem", StemExpression.stem(col("token")))
      .withColumn("stem_group_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("stem")))
      .orderBy("token")
  }

  val langs = Seq("de", "en", "es", "fr", "zh")
  private val langSets = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "is", "of", "to"),
    "es" -> Seq("el", "los", "las", "y"),
    "fr" -> Seq("le", "la", "les", "et"))

  /** Feature column order — must match the VectorAssembler order the
    * fixture forest was trained with (feature INDICES in [[MlFixtures
    * .rfNodes]] point into this sequence). */
  val q56FeatureNames: Seq[String] =
    Seq("hits_de", "hits_en", "hits_es", "hits_fr", "n_tokens", "alpha_ratio")

  /** Deterministic 256-bucket hash split (q80's portable sampler):
    * test = bucket < 0x4d (~30%), train = the rest. `randomSplit` is
    * partitioning-dependent and has no SQL spelling; this split does. */
  val splitSalt = "q56split"
  val testBucketHex = "4d"

  /** The q56 feature frame: per-language stopword-hit ratios, token
    * count, alphabetic-character ratio, integer class label. All
    * ratios are single double divisions of exact integers — IEEE says
    * both engines round them identically, so downstream comparisons
    * against frozen double thresholds are engine-portable. */
  def q56Features(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    langSets.foldLeft(base) { case (df, (l, words)) =>
      df.withColumn(s"hits_$l",
        (size(filter(col("toks"),
          x => array_contains(array(words.map(lit): _*), x)))
          / size(col("toks"))).cast("double"))
    }
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("alpha_ratio",
        (length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          / length(col("text"))).cast("double"))
      .withColumn("label",
        array_position(array(langs.map(lit): _*), col("lang")).cast("int") - 1)
  }

  /** RandomForest mention-classifier prediction leg (M6): walk the
    * FROZEN seeded forest ([[MlFixtures.rfNodes]], provenance
    * `graft.tools.MlFixtureGen`) over the hash-held-out test split and
    * report the confusion matrix. Each tree compiles to a nested CASE
    * (whole-stage codegen, no ml-lib at query time); the forest
    * predicts by plurality vote with lowest-class tie-break (Breiman
    * voting — deliberately simpler than spark.ml's probability
    * averaging; MlSpec asserts the two agree on this corpus). Training
    * stays spec-only: a seeded fit cannot hash-match DuckDB, but
    * inference over frozen parameters is just CASEs and exact
    * arithmetic, so the oracle replays it bit-for-bit. */
  def q56RfClassifier(s: SparkSession, dir: String): DataFrame = {
    val test = q56Features(s, dir).filter(
      graft.operators.Sampling.bucket(col("doc_id"), splitSalt)
        < lit(testBucketHex))
    val votes = MlFixtures.rfTreeIds.map(t => MlFixtures.treeColumn(t))
    val voted = test.select(col("doc_id"), col("lang"),
      explode(array(votes: _*)).as("vote"))
      .groupBy("doc_id", "lang", "vote").agg(count(lit(1)).as("n_votes"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("n_votes").desc, col("vote"))))
      .filter(col("rnk") === 1)
    voted
      .select(col("lang"),
        element_at(array(langs.map(lit): _*),
          (col("vote") + 1).cast("int")).as("predicted_lang"))
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted_lang")
  }

  /** q183: CLASSIFIER CALIBRATION — the reliability diagram + expected
    * calibration error (Guo et al. 2017's ECE, the standard production
    * readout) for the q56 frozen forest: per test document the
    * confidence is the winning class's VOTE SHARE in milli, documents
    * group into 10 confidence bins, and each bin compares its mean
    * confidence against its actual accuracy; ECE is the doc-weighted
    * mean |gap|. A quality-filter model (the FineWeb-style classifier
    * this engine's q56/q167 stand in for) is only usable for threshold
    * curation if its scores are calibrated — this is the query that
    * checks that, continuously, next to the confusion matrix q56
    * already watches. All integer arithmetic (votes, milli shares,
    * integer-div means) — hash-stable at any partitioning.
    *
    * Scale shape: inference is q56's map-side nested CASEs; the
    * roll-up is two combinable aggregations (doc → bin, bin → report)
    * and the 10-row bin frame broadcast-joins the 1-row ECE. */
  def q183Calibration(s: SparkSession, dir: String): DataFrame = {
    val nTrees = MlFixtures.rfTreeIds.size
    val test = q56Features(s, dir).filter(
      graft.operators.Sampling.bucket(col("doc_id"), splitSalt)
        < lit(testBucketHex))
    val votes = MlFixtures.rfTreeIds.map(t => MlFixtures.treeColumn(t))
    val winner = test.select(col("doc_id"), col("lang"),
        explode(array(votes: _*)).as("vote"))
      .groupBy("doc_id", "lang", "vote").agg(count(lit(1)).as("n_votes"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("n_votes").desc, col("vote"))))
      .filter(col("rnk") === 1)
      .withColumn("conf_milli", expr(s"n_votes * 1000 div $nTrees"))
      .withColumn("correct",
        when(element_at(array(langs.map(lit): _*),
          (col("vote") + 1).cast("int")) === col("lang"), 1L).otherwise(0L))
      .withColumn("bin", least(expr("conf_milli div 100"), lit(9L)))
    val bins = winner.groupBy("bin").agg(
        count(lit(1)).as("n_docs"),
        sum("correct").as("n_correct"),
        sum("conf_milli").as("conf_sum"))
      .withColumn("acc_milli", expr("n_correct * 1000 div n_docs"))
      .withColumn("avg_conf_milli", expr("conf_sum div n_docs"))
      .withColumn("gap_milli", abs(col("acc_milli") - col("avg_conf_milli")))
    val ece = bins.agg(expr(
      "sum(n_docs * gap_milli) div sum(n_docs)").as("ece_milli"))
    bins.crossJoin(broadcast(ece))
      .select("bin", "n_docs", "n_correct", "acc_milli",
        "avg_conf_milli", "gap_milli", "ece_milli")
      .orderBy("bin")
  }

  /** q196: SLICE-METRICS EVALUATION — the q56 classifier's accuracy
    * per (true language × document-length bucket) slice, the
    * slice-finder/model-card readout that aggregate accuracy hides: a
    * model can score 90% overall while failing every long German
    * document, and THIS is the query that shows it. Slices with few
    * examples are flagged (n < 5) rather than dropped — a thin slice
    * is an evaluation gap, not a result. Same map-side inference as
    * q56/q183; the roll-up is one combinable aggregation over ≤
    * langs × 3 cells. */
  def q196SliceMetrics(s: SparkSession, dir: String): DataFrame = {
    val test = q56Features(s, dir).filter(
      graft.operators.Sampling.bucket(col("doc_id"), splitSalt)
        < lit(testBucketHex))
    val votes = MlFixtures.rfTreeIds.map(t => MlFixtures.treeColumn(t))
    val winner = test.select(col("doc_id"), col("lang"),
        col("n_tokens").cast("long").as("nt"),
        explode(array(votes: _*)).as("vote"))
      .groupBy("doc_id", "lang", "nt", "vote")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("n_votes").desc, col("vote"))))
      .filter(col("rnk") === 1)
      .withColumn("len_bucket", expr(
        """CASE WHEN nt < 20 THEN 'short'
                WHEN nt < 60 THEN 'medium' ELSE 'long' END"""))
      .withColumn("correct",
        when(element_at(array(langs.map(lit): _*),
          (col("vote") + 1).cast("int")) === col("lang"), 1L).otherwise(0L))
    winner.groupBy("lang", "len_bucket")
      .agg(count(lit(1)).as("n"), sum("correct").as("n_correct"))
      .withColumn("acc_milli", expr("n_correct * 1000 div n"))
      .withColumn("thin_slice", col("n") < 5)
      .select("lang", "len_bucket", "n", "n_correct", "acc_milli",
        "thin_slice")
      .orderBy("lang", "len_bucket")
  }

  /** Sparse-binary feature dimension for the q57 vector space. */
  val minhashDim: Int = 1 << 18

  /** q57's input frame: per-doc sorted distinct feature indices plus
    * the equivalent sparse binary vector. Memoized because
    * approxSimilarityJoin consumes it on BOTH sides of its self-join,
    * which would otherwise recompute the tokenize→shingle→index
    * pipeline twice; also reused by MlSpec's parity assertions. */
  private[graft] lazy val q57Tf: Family[Unit] = Family[Unit]("mlMinhashTf",
      Vector, Nil, Set("q57_ml_minhash")) { (s, dir, _) =>
    val toVec = udf((idx: Seq[Long]) =>
      org.apache.spark.ml.linalg.Vectors.sparse(
        minhashDim, idx.map(_.toInt).toArray, Array.fill(idx.size)(1.0)))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        array_sort(array_distinct(transform(
          TextFns.shingleHashes(TextFns.tokens(col("text")), 5),
          h => h % minhashDim))).as("idx"))
      .filter(size(col("idx")) > 0)
      .withColumn("features", toVec(col("idx")))
  }

  /** `spark.ml` MinHashLSH approximate-similarity join (M4/J9) over
    * 5-shingle sets in a sparse binary vector space — the
    * PictureMatcher shape with text shingles standing in for picture
    * blockhashes. Seeded, so the signature permutations are stable.
    *
    * Feature indexing is `polyHash(shingle) mod 2^18` rather than
    * HashingTF's murmur3: identical LSH semantics (a deterministic
    * shingle → dimension map), but one with an exact DuckDB spelling —
    * which is what lets THIS leg be oracle-verified end to end. The
    * oracle replays the model's frozen seeded coefficients
    * ([[MlFixtures.minhashCoefs]], provenance `graft.tools
    * .MlFixtureGen`) through the same banded candidate join + Jaccard
    * distance that `approxSimilarityJoin` performs; MlSpec asserts the
    * fixture matches a fresh fit AND that the relational signature
    * equals `model.transform`'s, so the frozen replay is checked
    * against the live spark.ml path every run. */
  def q57MlMinhash(s: SparkSession, dir: String): DataFrame = {
    val tf = q57Tf(s, dir)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("sig")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(tf)
    model.approxSimilarityJoin(tf, tf, 0.8, "jaccard_dist")
      .select(col("datasetA.doc_id").as("doc1"),
        col("datasetB.doc_id").as("doc2"),
        Exact.r6(col("jaccard_dist")).as("jaccard_dist"))
      .filter(col("doc1") < col("doc2"))
      .orderBy("doc1", "doc2")
  }

  /** Word2Vec featurization leg (M5, `AdvancedInstrumentAnalyser
    * .scala:169-221`): the FROZEN seeded 16-dim embedding table
    * ([[MlFixtures.w2vVectors]], micro-quantized integers, provenance
    * `graft.tools.MlFixtureGen`) joined against the token stream.
    * Document embedding = dim-wise integer mean of its in-vocabulary
    * token vectors; per-lang centroid = dim-wise integer mean of the
    * document embeddings; output = per-lang document count and exact
    * integer squared centroid distances (avg + max). Every step is
    * integer arithmetic (`div` truncation identical in DuckDB), so the
    * centroid math is hash-verifiable; documents with no in-vocabulary
    * token carry no embedding and drop out, as with any featurizer. */
  def q66Word2vec(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(TextFns.tokens(col("text"))).as("word"))
    val docDim = toks
      .join(broadcast(MlFixtures.w2vDims(s)), Seq("word"))
      .groupBy("doc_id", "lang", "dim")
      .agg(sum("v_micro").as("sv"), count(lit(1)).as("nv"))
      .select(col("doc_id"), col("lang"), col("dim"),
        expr("sv div nv").as("mean_micro"))
    val cent = docDim.groupBy("lang", "dim")
      .agg(sum("mean_micro").as("cs"), count(lit(1)).as("cn"))
      .select(col("lang"), col("dim"), expr("cs div cn").as("cent_micro"))
    val dist = docDim.join(broadcast(cent), Seq("lang", "dim"))
      .withColumn("d", col("mean_micro") - col("cent_micro"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("d") * col("d")).as("dist2"))
    dist.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(dist2) div count(1)").as("avg_dist2"),
        max("dist2").as("max_dist2"))
      .orderBy("lang")
  }

  /** q141: nearest-centroid (Rocchio) text classifier — per-class
    * TF-IDF centroids trained and applied as RELATIONAL algebra: the
    * model is a (class, term, weight) table, scoring is a sparse
    * matrix multiply spelled as postings ⋈ centroids on term + one
    * combinable sum per (doc, class), argmax is a `min(struct(-cos,
    * class))` agg — no vectors materialized, no UDF, the shape that
    * classifies a 100 TB corpus with two keyed shuffles. IDF is
    * micro-quantized per term (the q115 precedent) so every weight,
    * centroid (floor-div by class size), dot product and ‖centroid‖²
    * is exact integer arithmetic; only the final cosine is a scalar
    * double division of those identical integers. Output: the lang
    * confusion matrix (actual × predicted × count) — the
    * model-quality readout. */
  def q141CentroidClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_micro",
        Exact.micro(log(col("n_docs").cast("double") / col("df"))))
      .select("term", "idf_micro")
    val w = tf.join(idf, Seq("term"))
      .withColumn("w", col("tf") * col("idf_micro"))
      .select("doc_id", "term", "w")
    val langSizes = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val cent = w.join(docs, Seq("doc_id"))
      .groupBy("lang", "term").agg(sum("w").as("sw"))
      .join(langSizes, Seq("lang"))
      .withColumn("c", expr("sw div n_lang"))
      .select(col("lang").as("clang"), col("term"), col("c"))
    // cosine normalization: the dot product and ‖centroid‖² are exact
    // integers; the final score is one scalar division of identical
    // integers in both engines (deterministic IEEE — floats only
    // diverge across engines through order-dependent SUMS, which all
    // happen in integer space here). Without it the argmax is biased
    // to the largest-magnitude centroid.
    // dot/norm accumulation in DECIMAL(38,0): w and c reach ~1e10 on
    // long documents, so c·c and w·c pass Long.MaxValue well before
    // the target scale — the q137/q139 guard (a Long sum would wrap
    // silently on Spark while the oracle's HUGEINT errors)
    val norms = cent.groupBy("clang")
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("normsq"))
    val pred = w.join(cent, Seq("term"))
      .groupBy("doc_id", "clang")
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * c")).as("score"))
      .join(broadcast(norms), Seq("clang"))
      // normsq = 0 (a centroid that quantizes to all zeros) would make
      // cosn NaN, which Spark's min(struct) and the oracle's ORDER BY
      // rank in OPPOSITE directions — score such a class -1 (never
      // preferred over any real cosine) identically in both engines
      .withColumn("cosn",
        when(col("normsq") > 0,
          col("score").cast("double") / sqrt(col("normsq").cast("double")))
          .otherwise(lit(-1.0)))
      .groupBy("doc_id")
      .agg(min(struct((-col("cosn")).as("ns"), col("clang").as("pl")))
        .as("m"))
      .select(col("doc_id"), col("m.pl").as("predicted_lang"))
    pred.join(docs, Seq("doc_id"))
      .groupBy(col("lang").as("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual_lang", "predicted_lang")
  }

  val queries: Map[String, Q] = Map(
    "q141_centroid_classifier" -> (q141CentroidClassifier _),
    "q55_stem_tokens" -> (q55StemTokens _),
    "q56_rf_classifier" -> (q56RfClassifier _),
    "q183_calibration" -> (q183Calibration _),
    "q196_slice_metrics" -> (q196SliceMetrics _),
    "q57_ml_minhash" -> (q57MlMinhash _),
    "q66_word2vec" -> (q66Word2vec _))

  /** q55's oracle joins the corpus vocabulary against a hand-derived
    * Porter-stem table: each stem below follows from the published
    * algorithm (Porter 1980) applied by hand — e.g. `key→kei` /
    * `query→queri` are rule 1c (y→i after a vowel-containing stem),
    * `merge→merg`/`table→tabl`/`value→valu` are 5a (drop final e when
    * the remainder is not *o with m=1), `customer→custom` is step 4
    * (-er with m>1) while `filter`/`order` keep -er because m=1, and
    * `line`/`the` keep their e (5a *o / m=0 guards). This is an
    * INDEPENDENT check of the StemExpression implementation, not a
    * dump of its output; an out-of-vocabulary token fails loudly via
    * the inner join (row-count mismatch). */
  private val stemValues: String = Seq(
    "a" -> "a", "agg" -> "agg", "batch" -> "batch", "big" -> "big",
    "column" -> "column", "customer" -> "custom", "data" -> "data",
    "dup" -> "dup", "fast" -> "fast", "filter" -> "filter",
    "group" -> "group", "hash" -> "hash", "join" -> "join",
    "key" -> "kei", "line" -> "line", "merge" -> "merg",
    "order" -> "order", "part" -> "part", "query" -> "queri",
    "row" -> "row", "scan" -> "scan", "slow" -> "slow",
    "small" -> "small", "sort" -> "sort", "spark" -> "spark",
    "stream" -> "stream", "table" -> "tabl", "the" -> "the",
    "value" -> "valu", "vector" -> "vector", "window" -> "window")
    .map { case (t, st) => s"('$t', '$st')" }.mkString(", ") + ", " +
    // ScaleUp replica tokens (zrep1..zrep{MaxReps-1}, the ' zrepN'
    // text suffix): hand-derived identity — every Porter rule matches
    // a LETTER suffix, and these end in a digit, so no step fires.
    // Without these the q55 oracle's designed loud-fail (inner join on
    // a closed vocabulary) rejects every ScaleUp fixture — caught by
    // the round-13 full-suite replay on the high-id fixture. The bound
    // is ScaleUp.MaxReps (enforced by its require), so the two can't
    // drift apart (ADVICE r13).
    (1 until graft.tools.ScaleUp.MaxReps)
      .map(r => s"('zrep$r', 'zrep$r')").mkString(", ")

  /** q56/q66/q57 replay frozen-parameter inference relationally
    * (forest = generated nested CASEs; embeddings = integer VALUES
    * rows; LSH = frozen seeded coefficients through the banded
    * candidate join + exact Jaccard distance), so every ML leg
    * hash-matches. Training runs stay spec-only in MlSpec. */
  val oracles: Map[String, String] = Map(
    "q141_centroid_classifier" ->
      s"""WITH ${TextQueries.toksCte},
         tfw AS (SELECT doc_id, unnest(toks) AS term FROM toks),
         tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tfw GROUP BY 1, 2),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         idf AS (SELECT term,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1e6) AS BIGINT)
               AS idf_micro
           FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tfc GROUP BY 1) CROSS JOIN nd),
         w AS (SELECT doc_id, term, tf * idf_micro AS w
           FROM tfc JOIN idf USING (term)),
         ls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
           FROM documents GROUP BY 1),
         cent AS (SELECT d.lang AS clang, w.term,
             CAST(sum(w.w) AS BIGINT) // ls.n_lang AS c
           FROM w JOIN documents d USING (doc_id)
           JOIN ls ON ls.lang = d.lang
           GROUP BY d.lang, w.term, ls.n_lang),
         nrm AS (SELECT clang, sum(CAST(c AS HUGEINT) * c) AS normsq
           FROM cent GROUP BY 1),
         sc AS (SELECT w.doc_id, cent.clang,
             sum(CAST(w.w AS HUGEINT) * cent.c) AS score
           FROM w JOIN cent ON cent.term = w.term
           GROUP BY 1, 2),
         scn AS (SELECT sc.doc_id, sc.clang,
             CASE WHEN nrm.normsq > 0 THEN
               CAST(sc.score AS DOUBLE) / sqrt(CAST(nrm.normsq AS DOUBLE))
             ELSE -1.0 END AS cosn
           FROM sc JOIN nrm USING (clang)),
         pr AS (SELECT doc_id, clang AS predicted_lang FROM
           (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY cosn DESC, clang) AS rn FROM scn)
           WHERE rn = 1)
         SELECT d.lang AS actual_lang, pr.predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM pr JOIN documents d USING (doc_id)
         GROUP BY 1, 2 ORDER BY actual_lang, predicted_lang""",
    "q57_ml_minhash" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS toks
           FROM documents),
         sets AS (SELECT doc_id, list_sort(list_distinct(list_transform(
             ${TextFns.sqlShingleHashes("toks", 5)}, h -> h % $minhashDim))) AS idx
           FROM toks),
         f AS (SELECT doc_id, idx FROM sets WHERE len(idx) > 0),
         coefs(t, a, b) AS (VALUES ${MlFixtures.minhashCoefSqlValues}),
         sig AS (SELECT f.doc_id, c.t,
             list_min(list_transform(f.idx,
               i -> ((1 + i) * c.a + c.b) % ${MlFixtures.minhashPrime})) AS key
           FROM f CROSS JOIN coefs c),
         cands AS (SELECT DISTINCT s1.doc_id AS doc1, s2.doc_id AS doc2
           FROM sig s1 JOIN sig s2
           ON s1.t = s2.t AND s1.key = s2.key AND s1.doc_id < s2.doc_id),
         d AS (SELECT doc1, doc2,
             1 - CAST(len(list_intersect(f1.idx, f2.idx)) AS DOUBLE) /
               (len(f1.idx) + len(f2.idx) - len(list_intersect(f1.idx, f2.idx)))
               AS jd
           FROM cands
           JOIN f f1 ON f1.doc_id = doc1
           JOIN f f2 ON f2.doc_id = doc2)
         SELECT doc1, doc2,
           CAST(round(jd*1e6) AS BIGINT)/1e6 AS jaccard_dist
         FROM d WHERE jd < 0.8 ORDER BY doc1, doc2""",
    "q196_slice_metrics" -> {
      val treeCases = MlFixtures.rfTreeIds.map(MlFixtures.treeSql)
        .mkString(", ")
      val langList = langs.map(l => s"'$l'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, lang, text,
             ${TextFns.sqlTokens("text")} AS toks FROM documents),
         feats AS (SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) / len(toks) AS hits_de,
             len(list_filter(toks, x -> list_contains(['the','a','is','of','to'], x))) / len(toks) AS hits_en,
             len(list_filter(toks, x -> list_contains(['el','los','las','y'], x))) / len(toks) AS hits_es,
             len(list_filter(toks, x -> list_contains(['le','la','les','et'], x))) / len(toks) AS hits_fr,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) AS alpha_ratio
           FROM base WHERE len(toks) > 0
             AND substr(md5('$splitSalt' || CAST(doc_id AS VARCHAR)), 1, 2)
               < '$testBucketHex'),
         voted AS (SELECT doc_id, lang,
             CAST(n_tokens AS BIGINT) AS nt,
             unnest([$treeCases]) AS vote
           FROM feats),
         counts AS (SELECT doc_id, lang, nt, vote, count(*) AS n_votes
           FROM voted GROUP BY doc_id, lang, nt, vote),
         winner AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY n_votes DESC, vote) AS rnk FROM counts),
         docs AS (SELECT lang,
             CASE WHEN nt < 20 THEN 'short'
                  WHEN nt < 60 THEN 'medium' ELSE 'long' END AS len_bucket,
             CASE WHEN [$langList][vote + 1] = lang THEN 1 ELSE 0 END
               AS correct
           FROM winner WHERE rnk = 1)
         SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(correct) AS BIGINT) AS n_correct,
           CAST(sum(correct) AS BIGINT) * 1000 // count(*) AS acc_milli,
           count(*) < 5 AS thin_slice
         FROM docs GROUP BY lang, len_bucket
         ORDER BY lang, len_bucket"""
    },
    "q183_calibration" -> {
      val treeCases = MlFixtures.rfTreeIds.map(MlFixtures.treeSql)
        .mkString(", ")
      val langList = langs.map(l => s"'$l'").mkString(", ")
      val nTrees = MlFixtures.rfTreeIds.size
      s"""WITH base AS (SELECT doc_id, lang, text,
             ${TextFns.sqlTokens("text")} AS toks FROM documents),
         feats AS (SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) / len(toks) AS hits_de,
             len(list_filter(toks, x -> list_contains(['the','a','is','of','to'], x))) / len(toks) AS hits_en,
             len(list_filter(toks, x -> list_contains(['el','los','las','y'], x))) / len(toks) AS hits_es,
             len(list_filter(toks, x -> list_contains(['le','la','les','et'], x))) / len(toks) AS hits_fr,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) AS alpha_ratio
           FROM base WHERE len(toks) > 0
             AND substr(md5('$splitSalt' || CAST(doc_id AS VARCHAR)), 1, 2)
               < '$testBucketHex'),
         voted AS (SELECT doc_id, lang, unnest([$treeCases]) AS vote
           FROM feats),
         counts AS (SELECT doc_id, lang, vote, count(*) AS n_votes
           FROM voted GROUP BY doc_id, lang, vote),
         winner AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY n_votes DESC, vote) AS rnk FROM counts),
         docs AS (SELECT
             CAST(n_votes * 1000 // $nTrees AS BIGINT) AS conf_milli,
             CASE WHEN [$langList][vote + 1] = lang THEN 1 ELSE 0 END
               AS correct
           FROM winner WHERE rnk = 1),
         bins AS (SELECT least(conf_milli // 100, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(correct) AS BIGINT) AS n_correct,
             CAST(sum(conf_milli) AS BIGINT) AS conf_sum
           FROM docs GROUP BY 1),
         b2 AS (SELECT bin, n_docs, n_correct,
             n_correct * 1000 // n_docs AS acc_milli,
             conf_sum // n_docs AS avg_conf_milli,
             abs(n_correct * 1000 // n_docs - conf_sum // n_docs)
               AS gap_milli
           FROM bins),
         ece AS (SELECT CAST(sum(n_docs * gap_milli) // sum(n_docs)
             AS BIGINT) AS ece_milli FROM b2)
         SELECT bin, n_docs, n_correct, acc_milli, avg_conf_milli,
           gap_milli, (SELECT ece_milli FROM ece) AS ece_milli
         FROM b2 ORDER BY bin"""
    },
    "q56_rf_classifier" -> {
      val treeCases = MlFixtures.rfTreeIds.map(MlFixtures.treeSql)
        .mkString(", ")
      val langList = langs.map(l => s"'$l'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, lang, text,
             ${TextFns.sqlTokens("text")} AS toks FROM documents),
         feats AS (SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) / len(toks) AS hits_de,
             len(list_filter(toks, x -> list_contains(['the','a','is','of','to'], x))) / len(toks) AS hits_en,
             len(list_filter(toks, x -> list_contains(['el','los','las','y'], x))) / len(toks) AS hits_es,
             len(list_filter(toks, x -> list_contains(['le','la','les','et'], x))) / len(toks) AS hits_fr,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) AS alpha_ratio
           FROM base WHERE len(toks) > 0
             AND substr(md5('$splitSalt' || CAST(doc_id AS VARCHAR)), 1, 2)
               < '$testBucketHex'),
         voted AS (SELECT doc_id, lang, unnest([$treeCases]) AS vote
           FROM feats),
         counts AS (SELECT doc_id, lang, vote, count(*) AS n_votes
           FROM voted GROUP BY doc_id, lang, vote),
         winner AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY n_votes DESC, vote) AS rnk FROM counts)
         SELECT lang, [$langList][vote + 1] AS predicted_lang,
           count(*) AS n
         FROM winner WHERE rnk = 1
         GROUP BY lang, predicted_lang ORDER BY lang, predicted_lang"""
    },
    "q66_word2vec" ->
      s"""WITH vecs(word, dim, v_micro) AS (VALUES ${MlFixtures.w2vSqlValues}),
         toks AS (SELECT doc_id, lang, unnest(${TextFns.sqlTokens("text")}) AS word
           FROM documents),
         docdim AS (SELECT doc_id, lang, dim,
             CAST(sum(v_micro) AS BIGINT) // count(*) AS mean_micro
           FROM toks JOIN vecs USING (word) GROUP BY doc_id, lang, dim),
         cent AS (SELECT lang, dim,
             CAST(sum(mean_micro) AS BIGINT) // count(*) AS cent_micro
           FROM docdim GROUP BY lang, dim),
         dist AS (SELECT d.doc_id, d.lang,
             CAST(sum((d.mean_micro - c.cent_micro) *
               (d.mean_micro - c.cent_micro)) AS BIGINT) AS dist2
           FROM docdim d JOIN cent c USING (lang, dim)
           GROUP BY d.doc_id, d.lang)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(dist2) AS BIGINT) // count(*) AS avg_dist2,
           max(dist2) AS max_dist2
         FROM dist GROUP BY lang ORDER BY lang""",
    "q55_stem_tokens" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS toks
           FROM documents),
         vocab AS (SELECT t AS token, count(*) AS freq
           FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1),
         stems(token, stem) AS (VALUES $stemValues),
         j AS (SELECT v.token, v.freq, s.stem
           FROM vocab v JOIN stems s USING (token))
         SELECT token, freq, stem,
           count(*) OVER (PARTITION BY stem) AS stem_group_size
         FROM j ORDER BY token""")
}
