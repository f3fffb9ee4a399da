package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.SweepOrder.{Family, Text}
import graft.functions.TextFns

/** Reference-parity operator family, round 2: the analyser/matcher
  * shapes from SURVEY.md §2 not yet covered by earlier families —
  * regex code extraction with owned/referenced anti-join
  * (`matching/analyser/DoiAnalyser.scala:57-92`,
  * `ProposalCodeAnalyser.scala:69-82`), dual-type exact-code matching
  * (`matching/matcher/DualTypeEntitiesMatcher.scala:90-137` +
  * `matcheditor/HundredMatcherAnalyser.scala:23-27`), the rare-word
  * matcher/scorer (`analyser/RareWordAnalyser.scala:36-68`,
  * `scorer/SingleWordScorer.scala:45-70`), contiguous-run text matching
  * (`matcher/TextMatcher.scala:65-157`), per-group top-k ranking
  * (`analyser/AdvancedInstrumentAnalyser.scala:611-612`), deterministic
  * string indexing (`analyser/FormulaAnalyser.scala:70-74` — replacing
  * ML StringIndexer with `row_number` per SURVEY §7.4-2), and the
  * n-gram postings index (`analyser/TextEntitiesAnalyser.scala:164-206`).
  *
  * The synthetic documents' vocabulary is tiny (~31 words), so the
  * "codes" / "rare words" of the reference's corpus map to 3-token
  * n-grams here: the shingle space (~30k) has the rare-tail shape the
  * operators need, while single tokens are all stop-word-frequent.
  */
object ParityQueries {

  type Q = (SparkSession, String) => DataFrame

  private val codeRegex = "[a-z]{4,} [a-z]{4,} [a-z]{4,}"

  /** Distinct (doc_id, code) with codes extracted by non-overlapping
    * regex scan — the CodeAnalyser shape (UDTF→explode). */
  private def codes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(codeRegex), lit(0))).as("code"))
      .distinct()

  /** J6c: documents with even id "own" their codes (the proposal side);
    * odd-id documents "reference" codes. A referenced code already owned
    * by some document is dropped (the reference's right_outer+isNull
    * anti-join, `DoiAnalyser.scala:79-86`). */
  def q47CodeEntities(s: SparkSession, dir: String): DataFrame = {
    val c = codes(s, dir)
    val owned = c.filter(col("doc_id") % 2 === 0)
    val referenced = c.filter(col("doc_id") % 2 === 1)
    val kept = referenced.join(
      owned.select("code").distinct(), Seq("code"), "left_anti")
    owned.withColumn("origin", lit("owned"))
      .unionByName(kept.withColumn("origin", lit("referenced")))
      .select("doc_id", "code", "origin")
      .orderBy("doc_id", "code")
  }

  /** J3 + P9: dual-type matcher over codes — primary (owner) ×
    * secondary (referencer) pairs plus secondary × secondary pairs per
    * shared code, forced to score 100 (HundredMatcherAnalyser). A
    * frequency cap bounds the per-code fan-out (semantic guard, as in
    * `DualTypeEntitiesMatcher` via config). */
  def q48CodeMatch(s: SparkSession, dir: String): DataFrame = {
    val c = codes(s, dir)
    val keep = c.groupBy("code").agg(count(lit(1)).as("n"))
      .filter(col("n") <= 20).select("code")
    val g = c.join(keep, Seq("code"), "left_semi")
    val owned = g.filter(col("doc_id") % 2 === 0)
    val referenced = g.filter(col("doc_id") % 2 === 1)
    val ps = owned.select(col("code"), col("doc_id").as("a"))
      .join(referenced.select(col("code"), col("doc_id").as("b")), Seq("code"))
      .select(col("code"), least(col("a"), col("b")).as("doc1"),
        greatest(col("a"), col("b")).as("doc2"), lit("ps").as("kind"))
    val ss = referenced.select(col("code"), col("doc_id").as("a"))
      .join(referenced.select(col("code"), col("doc_id").as("b")), Seq("code"))
      .filter(col("a") < col("b"))
      .select(col("code"), col("a").as("doc1"), col("b").as("doc2"),
        lit("ss").as("kind"))
    ps.unionByName(ss)
      .groupBy("doc1", "doc2", "kind")
      .agg(countDistinct("code").as("n_shared"))
      .withColumn("score", lit(100.0))
      .orderBy("doc1", "doc2", "kind")
  }

  /** 3-shingle occurrences with term frequency per doc. */
  private[graft] lazy val shingleTf3: Family[Unit] = Family[Unit](
      "shingleTf3", Text, Nil, Set("q111_curation_report",
        "q197_dataset_card", "q49_rare_words", "q50_sentence_runs",
        "q81_boilerplate_coverage", "q93_curation_pipeline")) { (s, dir, _) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextFns.shingles(TextFns.tokens(col("text")), 3)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
  }

  /** P8 + A4: rare-word matcher — keep terms passing the rare-word
    * predicate (document frequency in [2, 30], length in [5, 90],
    * letters/spaces only), pair documents sharing ≥2 rare terms, score
    * = Σ (tf1+tf2)·idf in exact milli-units
    * (`RareWordAnalyser.scala:44-59`; `SingleWordScorer.scala:53-57`). */
  def q49RareWords(s: SparkSession, dir: String): DataFrame = {
    // memoized: tf feeds the corpus count, the rare-term filter AND
    // both sides of the pair self-join — uncached, the tokenize →
    // explode → groupBy pipeline re-runs five times
    val tf = shingleTf3(s, dir)
    val nDocs = tf.agg(countDistinct("doc_id").as("n_docs"))
    val rare = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 30) &&
        length(col("w")).between(5, 90) && col("w").rlike("^[a-z ]+$"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_milli",
        round(log10(col("n_docs").cast("double") / col("df")) * 1000).cast("long"))
      .select("w", "idf_milli")
    val terms = tf.join(rare, Seq("w"))
    val a = terms.select(col("w"), col("doc_id").as("doc1"),
      col("tf").as("tf1"), col("idf_milli"))
    val b = terms.select(col("w"), col("doc_id").as("doc2"), col("tf").as("tf2"))
    a.join(b, Seq("w"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("n_shared"),
        sum((col("tf1") + col("tf2")) * col("idf_milli")).as("score_milli"))
      .filter(col("n_shared") >= 2)
      .orderBy("doc1", "doc2")
  }

  /** A5: contiguous-run text matcher — for document pairs sharing
    * capped-frequency shingles, merge the doc1-side match positions
    * into contiguous runs and report run stats (the TextMatcher
    * sentence-group roll-up, expressed with windows instead of
    * collect_list + per-row Scala). */
  def q50SentenceRuns(s: SparkSession, dir: String): DataFrame = {
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(TextFns.shingles(TextFns.tokens(col("text")), 3))
          .as(Seq("pos", "w")))
    // The df cap MUST be applied before postings are collected: a
    // stopword-grade shingle would otherwise accumulate its entire
    // (doc, pos) occurrence list in one aggregation buffer before
    // being discarded (the reference guards the same way — sentence
    // maxoccurency, TextMatcher.scala:55). The df counts come from
    // the memoized per-(doc, w) tf frame shared with q49/q81 (one row
    // per distinct (doc, w), so df = rows per w — a bounded-state
    // aggregation over the cache, no second corpus pass). The
    // postings collect then only ever sees ≤ df-cap docs per w, and
    // (doc1, pos1) determines w, so the expansion is already
    // (doc1, doc2, pos1)-distinct.
    val keep = shingleTf3(s, dir)
      .groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 20)).select("w")
    val postings = pos.join(keep, Seq("w"), "left_semi")
      .groupBy("w")
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
      .withColumn("docs",
        array_distinct(transform(col("occ"), o => o.getField("doc_id"))))
    val hits = postings
      .select(col("occ"), explode(col("docs")).as("doc2"))
      .select(explode(filter(col("occ"),
        o => o.getField("doc_id") < col("doc2"))).as("o"), col("doc2"))
      .select(col("o.doc_id").as("doc1"), col("doc2"), col("o.pos").as("pos1"))
    val byPair = Window.partitionBy("doc1", "doc2").orderBy("pos1")
    hits
      .withColumn("grp", col("pos1") - row_number().over(byPair))
      .groupBy("doc1", "doc2", "grp")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("n_runs"),
        max("run_len").as("max_run"),
        sum("run_len").as("n_hits"))
      .filter(col("n_hits") >= 3)
      .orderBy("doc1", "doc2")
  }

  /** W4: top-k per group — top-3 parts per supplier by revenue, rank
    * window + filter (the instrument close-word top-20 shape). */
  def q51TopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("suppkey"), col("l_partkey").as("partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy("suppkey")
      .orderBy(col("rev_cents").desc, col("partkey"))
    rev.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .orderBy("suppkey", "rnk", "partkey")
  }

  /** M1: deterministic string indexing — frequency-desc ids for the
    * token vocabulary (replacing StringIndexer / monotonically_
    * increasing_id with row_number per SURVEY §7.4-2). The global
    * window is over the *vocabulary*, which is orders of magnitude
    * smaller than the corpus — fine at any scale. */
  def q52StringIndexer(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    freq.withColumn("token_id",
        row_number().over(Window.orderBy(col("freq").desc, col("token"))) - 1)
      .orderBy("token_id")
  }

  /** M2 + A11: n-gram postings index — bigram document frequency,
    * total tf, exact-integer IDF and dense_rank surrogate ids (the
    * TextEntitiesAnalyser index build without nondeterministic
    * monotonically_increasing_id). */
  def q53NgramIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextFns.shingles(TextFns.tokens(col("text")), 2)).as("ngram"))
      .groupBy("doc_id", "ngram").agg(count(lit(1)).as("tf"))
    // n_docs = docs contributing ≥1 2-gram (≥2 tokens): a plain scan
    // computes it without re-running tf's explode + shuffle
    val nDocs = Tables.documents(s, dir)
      .select(when(size(TextFns.tokens(col("text"))) >= 2, col("doc_id"))
        .as("d"))
      .agg(countDistinct("d").as("n_docs"))
    tf.groupBy("ngram")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
        min("doc_id").as("min_doc"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_milli",
        round(log10(col("n_docs").cast("double") / col("df")) * 1000).cast("long"))
      .withColumn("ngram_id",
        dense_rank().over(Window.orderBy(col("df").desc, col("ngram"))) - 1)
      .select("ngram", "ngram_id", "df", "total_tf", "idf_milli", "min_doc")
      .orderBy("ngram_id")
  }

  /** Boilerplate-coverage scoring (training-data cleaning signal, the
    * RefinedWeb/C4 duplicate-fraction idea): the share of each
    * document's 3-gram positions covered by corpus-common 3-grams,
    * where "common" is relative — document frequency ≥ n_docs/20, the
    * reference's safe-mode frequency heuristic
    * (`matching/matcher/EntitiesMatcherV2.scala:45-53`) — so the
    * threshold scales with the corpus instead of being retuned per SF.
    * Coverage is exact integer arithmetic — `(n_common*1000) div
    * n_pos` on longs (non-negative, so truncation == floor in both
    * engines): no float parity risk against the oracle. */
  def q81BoilerplateCoverage(s: SparkSession, dir: String): DataFrame = {
    // same memoized frame as q49 (each tf row is a distinct (doc, w),
    // so per-w df = row count and per-doc positions = sum(tf)) — the
    // raw-occurrence shape re-ran the tokenize+explode four times
    val tf = shingleTf3(s, dir)
    val nDocs = tf.agg(countDistinct("doc_id").as("n_docs"))
    val common = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= col("n_docs") / 20.0)
      .select("w")
    val perDoc = tf.groupBy("doc_id").agg(sum("tf").as("n_pos"))
    val commonPerDoc = tf.join(common, Seq("w"), "left_semi")
      .groupBy("doc_id").agg(sum("tf").as("n_common"))
    perDoc.join(commonPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .withColumn("coverage_milli", expr("n_common * 1000 div n_pos"))
      .withColumn("keep", col("coverage_milli") <= 800)
      .select("doc_id", "n_pos", "n_common", "coverage_milli", "keep")
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q47_code_entities" -> (q47CodeEntities _),
    "q48_code_match" -> (q48CodeMatch _),
    "q49_rare_words" -> (q49RareWords _),
    "q50_sentence_runs" -> (q50SentenceRuns _),
    "q51_topk_per_group" -> (q51TopkPerGroup _),
    "q52_string_indexer" -> (q52StringIndexer _),
    "q53_ngram_index" -> (q53NgramIndex _),
    "q81_boilerplate_coverage" -> (q81BoilerplateCoverage _))

  // ---- oracle SQL --------------------------------------------------

  private val codesCte =
    s"""codes0 AS (SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '$codeRegex')) AS code
         FROM documents),
       codes AS (SELECT DISTINCT doc_id, code FROM codes0)"""

  private val shingleCte =
    s"""toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS t FROM documents),
       sh AS (SELECT doc_id, unnest(list_transform(
           range(0, greatest(0, len(t) - 2)),
           i -> struct_pack(pos := i,
             w := array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS u
         FROM toks),
       shingle AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM sh)"""

  val oracles: Map[String, String] = Map(
    "q47_code_entities" ->
      s"""WITH $codesCte,
         owned AS (SELECT * FROM codes WHERE doc_id % 2 = 0),
         refd AS (SELECT * FROM codes WHERE doc_id % 2 = 1),
         kept AS (SELECT r.* FROM refd r
           WHERE NOT EXISTS (SELECT 1 FROM owned o WHERE o.code = r.code))
         SELECT doc_id, code, 'owned' AS origin FROM owned
         UNION ALL
         SELECT doc_id, code, 'referenced' AS origin FROM kept
         ORDER BY doc_id, code""",
    "q48_code_match" ->
      s"""WITH $codesCte,
         keep AS (SELECT code FROM
           (SELECT code, count(*) AS n FROM codes GROUP BY code) WHERE n <= 20),
         g AS (SELECT codes.* FROM codes JOIN keep USING (code)),
         owned AS (SELECT * FROM g WHERE doc_id % 2 = 0),
         refd AS (SELECT * FROM g WHERE doc_id % 2 = 1),
         pairs AS (
           SELECT o.code, least(o.doc_id, r.doc_id) AS doc1,
             greatest(o.doc_id, r.doc_id) AS doc2, 'ps' AS kind
           FROM owned o JOIN refd r ON o.code = r.code
           UNION ALL
           SELECT a.code, a.doc_id AS doc1, b.doc_id AS doc2, 'ss' AS kind
           FROM refd a JOIN refd b ON a.code = b.code AND a.doc_id < b.doc_id)
         SELECT doc1, doc2, kind, count(DISTINCT code) AS n_shared,
           100.0 AS score
         FROM pairs GROUP BY doc1, doc2, kind
         ORDER BY doc1, doc2, kind""",
    "q81_boilerplate_coverage" ->
      s"""WITH $shingleCte,
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM shingle),
         dfs AS (SELECT w, count(DISTINCT doc_id) AS df FROM shingle GROUP BY w),
         common AS (SELECT w FROM dfs, nd WHERE df >= n_docs / 20.0),
         per AS (SELECT doc_id, count(*) AS n_pos FROM shingle GROUP BY doc_id),
         com AS (SELECT doc_id, count(*) AS n_common
           FROM shingle JOIN common USING (w) GROUP BY doc_id)
         SELECT per.doc_id, per.n_pos,
           COALESCE(com.n_common, 0) AS n_common,
           CAST(COALESCE(com.n_common, 0) * 1000 // per.n_pos AS BIGINT)
             AS coverage_milli,
           CAST(COALESCE(com.n_common, 0) * 1000 // per.n_pos AS BIGINT)
             <= 800 AS keep
         FROM per LEFT JOIN com ON per.doc_id = com.doc_id
         ORDER BY per.doc_id""",
    "q49_rare_words" ->
      s"""WITH $shingleCte,
         tfr AS (SELECT doc_id, w, count(*) AS tf FROM shingle GROUP BY doc_id, w),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tfr),
         rare AS (SELECT w,
           CAST(round(log10(CAST(n_docs AS DOUBLE)/df)*1000) AS BIGINT) AS idf_milli
           FROM (SELECT w, count(*) AS df FROM tfr GROUP BY w), nd
           WHERE df BETWEEN 2 AND 30 AND length(w) BETWEEN 5 AND 90
             AND regexp_matches(w, '^[a-z ]+$$')),
         terms AS (SELECT tfr.doc_id, tfr.w, tfr.tf, rare.idf_milli
           FROM tfr JOIN rare ON tfr.w = rare.w)
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           count(*) AS n_shared,
           CAST(sum((a.tf + b.tf) * a.idf_milli) AS BIGINT) AS score_milli
         FROM terms a JOIN terms b ON a.w = b.w AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
         HAVING count(*) >= 2
         ORDER BY doc1, doc2""",
    "q50_sentence_runs" ->
      s"""WITH $shingleCte,
         keep AS (SELECT w FROM
           (SELECT w, count(DISTINCT doc_id) AS df FROM shingle GROUP BY w)
           WHERE df BETWEEN 2 AND 20),
         g AS (SELECT shingle.* FROM shingle JOIN keep USING (w)),
         hits AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
             a.pos AS pos1
           FROM g a JOIN g b ON a.w = b.w AND a.doc_id < b.doc_id),
         grps AS (SELECT doc1, doc2, pos1,
           pos1 - row_number() OVER (PARTITION BY doc1, doc2 ORDER BY pos1) AS grp
           FROM hits),
         runs AS (SELECT doc1, doc2, grp, count(*) AS run_len
           FROM grps GROUP BY doc1, doc2, grp)
         SELECT doc1, doc2, count(*) AS n_runs, max(run_len) AS max_run,
           CAST(sum(run_len) AS BIGINT) AS n_hits
         FROM runs GROUP BY doc1, doc2
         HAVING CAST(sum(run_len) AS BIGINT) >= 3
         ORDER BY doc1, doc2""",
    "q51_topk_per_group" ->
      """WITH rev AS (SELECT l_suppkey AS suppkey, l_partkey AS partkey,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
           FROM lineitem GROUP BY 1, 2),
         ranked AS (SELECT *, rank() OVER (PARTITION BY suppkey
           ORDER BY rev_cents DESC, partkey) AS rnk FROM rev)
         SELECT suppkey, partkey, rev_cents, rnk FROM ranked
         WHERE rnk <= 3 ORDER BY suppkey, rnk, partkey""",
    "q52_string_indexer" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS t FROM documents),
         freq AS (SELECT tok AS token, count(*) AS freq FROM
           (SELECT unnest(t) AS tok FROM toks) GROUP BY tok)
         SELECT token, freq,
           row_number() OVER (ORDER BY freq DESC, token) - 1 AS token_id
         FROM freq ORDER BY token_id""",
    "q53_ngram_index" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS t FROM documents),
         big AS (SELECT doc_id, unnest(list_transform(
             range(0, greatest(0, len(t) - 1)),
             i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))) AS ngram
           FROM toks),
         tfr AS (SELECT doc_id, ngram, count(*) AS tf FROM big GROUP BY doc_id, ngram),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tfr),
         stats AS (SELECT ngram, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
           min(doc_id) AS min_doc FROM tfr GROUP BY ngram)
         SELECT ngram,
           dense_rank() OVER (ORDER BY df DESC, ngram) - 1 AS ngram_id,
           df, total_tf,
           CAST(round(log10(CAST(n_docs AS DOUBLE)/df)*1000) AS BIGINT) AS idf_milli,
           min_doc
         FROM stats, nd ORDER BY ngram_id""")
}
