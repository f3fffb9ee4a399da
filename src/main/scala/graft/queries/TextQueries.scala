package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.SweepOrder.{Family, Vector}
import graft.functions.Exact.r6
import graft.functions.TextFns
import graft.functions.TextFns._
import graft.operators.{CosineText, TextDedup}

/** Text-analysis + deduplication operator family over the `documents`
  * table: token stats, exact dedup, language-ID heuristic, quality
  * scoring, MinHash signatures, LSH near-dup pairs, SimHash,
  * fingerprinting, shingle TF-IDF cosine. These are the LLM-training-
  * data-pipeline operators beyond the reference's own surface
  * (BASELINE.json north star).
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private[graft] val langSets: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "is", "of", "to"),
    "es" -> Seq("el", "los", "las", "y"),
    "fr" -> Seq("le", "la", "les", "et"))

  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)

  /** Token counting: counts, distinct counts, char/avg lengths, a
    * chars-per-token subword estimate. */
  def q21TokenStats(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        length(col("text")).as("text_len"),
        r6(aggregate(transform(col("toks"), t => length(t)), lit(0),
          (a, x) => a + x) / size(col("toks"))).as("avg_tok_len"),
        ceil(length(col("text")) / 3.5).cast("long").as("subword_est"))
      .orderBy("doc_id")

  /** Exact dedup via content hash (canonical = min doc_id per md5). */
  def q22ExactDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedup(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Language-ID: stopword-hit argmax with deterministic tiebreak.
    * Zero stopword hits → 'und' (ISO-639 undetermined): a confident
    * alphabetical argmax over zero evidence is a labeling bug, the
    * wart q205's annotator disagreement surfaced in round 11. */
  def q23LangId(s: SparkSession, dir: String): DataFrame =
    langArgmax(toks(s, dir))
      .select(col("doc_id"),
        when(col("hits") === 0, lit("und")).otherwise(col("lang"))
          .as("predicted_lang"),
        col("hits"),
        col("n_tokens"), r6(col("hits") / col("n_tokens")).as("ratio"))
      .orderBy("doc_id")

  /** q23's stopword-hit argmax rule over a `(doc_id, toks, …)` frame —
    * one definition shared with q205's annotator A so the two can
    * never drift. Returns the winning `(doc_id, lang, hits, n_tokens)`
    * row per document (ties broken by lang asc). */
  private def langArgmax(t: DataFrame): DataFrame = {
    val scores = langSets.map { case (lang, words) =>
      t.select(col("doc_id"), size(col("toks")).as("n_tokens"), lit(lang).as("lang"),
        size(filter(col("toks"),
          x => array_contains(array(words.map(lit): _*), x))).as("hits"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("lang"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "hits", "n_tokens")
  }

  /** Deterministic calibration-probe documents for q205 (round-13
    * verdict item 5): without them the corpus is degenerate for
    * inter-annotator agreement — the synthetic text carries ONLY
    * English stopwords, so the argmax and first-vote annotators agree
    * perfectly and kappa pins at exactly 1, leaving the off-diagonal
    * confusion / chance-correction arithmetic latent at the gate.
    * Injecting a fixed gold calibration set alongside the corpus is
    * standard IAA practice; this one is built from the SAME literal
    * sequence on both engines (the oracle embeds it as VALUES), so
    * parity is by construction.
    *
    * Cell (i, j), i ≠ j: docs `"w_j w_i w_i"` where w_l is language
    * l's first stopword — argmax says lang_i (2 hits > 1), first-vote
    * says lang_j (reading order), landing count `i + 2j + 1` in
    * off-diagonal cell (lang_i, lang_j). The counts are deliberately
    * ASYMMETRIC (cell (0,1) = 3 vs cell (1,0) = 2, etc.) so a
    * row/column-marginal transposition in the p_e chain shifts the
    * hash instead of hiding in a symmetric matrix. Diagonal cells get
    * 2 docs each, and doc_ids are negative so no corpus or ScaleUp id
    * (all positive) can ever collide. */
  private[graft] val calibrationFamily: Seq[(Long, String)] = {
    val w = langSets.map(_._2.head) // der, the, el, le — disjoint sets
    for {
      i <- 0 to 3
      j <- 0 to 3
      cnt = if (i == j) 2 else i + 2 * j + 1
      k <- 1 to cnt
    } yield (-(100L * i + 10L * j + k),
      if (i == j) s"${w(i)} ${w(i)}" else s"${w(j)} ${w(i)} ${w(i)}")
  }

  /** q205: INTER-ANNOTATOR AGREEMENT (Cohen's kappa, 1960) — the
    * label-QC aggregate a curation pipeline runs before trusting any
    * weak labeler: two independent deterministic annotators label
    * every document's language and the report is their confusion
    * matrix plus kappa = (p_o − p_e)/(1 − p_e), the
    * chance-corrected agreement. Annotator A is q23's stopword-hit
    * argmax; annotator B is a genuinely different rule — the FIRST
    * stopword in reading order votes (no stopword → 'und',
    * ISO-639's undetermined). Kappa near 1 means the cheap labeler
    * can stand in for the expensive one; kappa near 0 means the two
    * rules measure different things no matter how often they agree
    * by luck. Both annotators label the corpus PLUS the fixed
    * [[calibrationFamily]] gold set — on the all-English corpus alone
    * the annotators agree perfectly and kappa degenerates to exactly
    * 1, leaving the off-diagonal arithmetic untested (round-13
    * verdict); the calibration docs force a full asymmetric 5×5-able
    * confusion matrix so the gate hash pins the complete p_e chain.
    *
    * Exactness: p_o and p_e are integer micro units (counts·1e6 DIV
    * N, resp. Σ rowN·colN·1e6 DIV N²), kappa is one final round of a
    * double computed from those exactly-agreed integers (the q136
    * rule); the p_e = 1 degenerate case yields NULL, not a division
    * blow-up.
    *
    * Scale shape: one token explode joined to a broadcast ≤17-word
    * dim, per-doc min(struct) votes, then a ≤25-cell confusion
    * matrix — everything after the explode is combinable; the kappa
    * scalars derive from the cells (a second pass over ≤25 rows). */
  def q205LabelKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = toks(s, dir).select(col("doc_id"), col("toks"))
      .unionByName(calibrationFamily.toDF("doc_id", "text")
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks")))
    val a = langArgmax(all)
      .select(col("doc_id"),
        when(col("hits") === 0, lit("und")).otherwise(col("lang"))
          .as("label_a"))
    val wordLang = langSets
      .flatMap { case (lang, words) => words.map(w => (w, lang)) }
      .toDF("tok", "wl_lang")
    val firstVote = all
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(broadcast(wordLang), Seq("tok"))
      .groupBy("doc_id")
      .agg(min(struct(col("pos"), col("wl_lang"))).as("v"))
      .select(col("doc_id"), col("v.wl_lang").as("label_b"))
    val conf = a.join(firstVote, Seq("doc_id"), "left")
      .na.fill("und", Seq("label_b"))
      .groupBy("label_a", "label_b")
      .agg(count(lit(1)).as("n"))
    val scal = conf.agg(
        sum("n").as("nn"),
        sum(when(col("label_a") === col("label_b"), col("n"))
          .otherwise(0L)).as("diag"))
    val rowN = conf.groupBy("label_a").agg(sum("n").as("row_n"))
    val colN = conf.groupBy("label_b").agg(sum("n").as("col_n"))
    // pe_num ≤ nn² and pe_num·1e6 exceed a long once nn passes ~3e9 /
    // ~3e6 rows respectively (the q179 overflow class, latent here):
    // widen the whole pe chain to DECIMAL(38,0) — `div` still lands
    // the quotient back in BIGINT, keeping the integer-micro contract.
    // coalesce to 0 like the oracle: an empty marginal join (no label
    // appears on both sides) must yield pe_micro = 0, not NULL —
    // engine parity on the degenerate confusion matrix (ADVICE r12)
    val peNum = rowN.join(colN, col("label_a") === col("label_b"))
      .agg(coalesce(
        sum(col("row_n").cast("decimal(38,0)") * col("col_n")),
        lit(0).cast("decimal(38,0)")).as("pe_num"))
    val k = scal.crossJoin(peNum)
      .withColumn("po_micro", expr("diag * 1000000 div nn"))
      .withColumn("pe_micro", expr(
        """CAST(pe_num * 1000000 AS DECIMAL(38,0))
           div (CAST(nn AS DECIMAL(38,0)) * nn)"""))
      .withColumn("kappa_micro", expr(
        """CASE WHEN pe_micro >= 1000000 THEN NULL ELSE
           CAST(round((po_micro - pe_micro) * 1e6
             / (1000000 - pe_micro)) AS BIGINT) END"""))
      .select("po_micro", "pe_micro", "kappa_micro")
    conf.crossJoin(broadcast(k))
      .select("label_a", "label_b", "n", "po_micro", "pe_micro",
        "kappa_micro")
      .orderBy("label_a", "label_b")
  }

  /** Quality scoring: length/stopword/alpha ratios + composite. */
  def q24QualityScore(s: SparkSession, dir: String): DataFrame = {
    val en = langSets.toMap.apply("en")
    toks(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("text_len", length(col("text")))
      .withColumn("stop_hits", size(filter(col("toks"),
        x => array_contains(array(en.map(lit): _*), x))))
      .withColumn("alpha_chars",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")))
      .withColumn("stop_ratio_raw", col("stop_hits") / col("n_tokens"))
      .withColumn("alpha_ratio_raw", col("alpha_chars") / col("text_len"))
      .select(col("doc_id"), col("n_tokens"),
        r6(col("stop_ratio_raw")).as("stop_ratio"),
        r6(col("alpha_ratio_raw")).as("alpha_ratio"),
        r6(lit(0.3) * least(lit(1.0), col("n_tokens") / 50.0)
          + lit(0.4) * col("stop_ratio_raw")
          + lit(0.3) * col("alpha_ratio_raw")).as("quality"))
      .orderBy("doc_id")
  }

  /** MinHash signature rows (doc × seed), the raw dedup machinery. */
  def q25MinhashSignature(s: SparkSession, dir: String): DataFrame =
    TextDedup.shingleSets(Tables.documents(s, dir), "doc_id", "text", 5)
      .filter(size(col("hashes")) > 0)
      .select(col("doc_id"),
        posexplode(minhashSignature(col("hashes"), 12)).as(Seq("seed_idx", "minhash")))
      .orderBy("doc_id", "seed_idx")

  /** MinHash-LSH near-duplicate pairs, exact-Jaccard verified. */
  def q26LshDupPairs(s: SparkSession, dir: String): DataFrame =
    Shared.dupPairs(s, dir)
      .orderBy("doc1", "doc2")

  /** SimHash signatures (tf-weighted token hashes). */
  def q27Simhash(s: SparkSession, dir: String): DataFrame =
    Shared.simhashes(s, dir)
      .withColumn("band16", floor(col("simhash") / 65536.0).cast("long"))
      .orderBy("doc_id")

  /** Document fingerprint: 4 smallest distinct 3-shingle hashes. */
  def q28Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        shingleHashes(TextFns.tokens(col("text")), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), fingerprint(col("hs"), 4).as("fp"))
      .orderBy("doc_id")

  /** Shingle TF-IDF cosine pairs (the CosineMatcher analogue). */
  def q29CosineShingles(s: SparkSession, dir: String): DataFrame =
    CosineText.cosinePairs(cosineWeights(s, dir)).orderBy("doc1", "doc2")

  /** q29's doc×term weights, read by its norms and both sides of its
    * self-join. Its one reader opens the vector cluster. */
  private[graft] lazy val cosineWeights: Family[Unit] = Family[Unit](
      "cosineWeights", Vector, Nil, Set("q29_cosine_shingles")) { (s, dir, _) =>
    CosineText.cosineWeights(Tables.documents(s, dir), "doc_id", "text")
  }

  /** SimHash hamming near-dup pairs (the PictureScorer-hamming
    * analogue, `matching/scorer/PictureScorer.scala:45,75-92`, with the
    * banded prefilter replacing MinHashLSH): docs sharing any 8-bit
    * band of their 32-bit simhash are candidates; exact
    * `bit_count(xor)` filters to hamming distance <= threshold. */
  /* maxHamming=2: with tf-weighted simhash over stopword-heavy text,
   * random pairs already center at hamming ~5 of 32 (shared vocabulary
   * dominates each bit vote), so a loose threshold degenerates to
   * all-pairs — 11.4M of 12.5M possible pairs at sf0.1. <=2 keeps the
   * exact/planted near-dups plus a thin coincidence tail, and the 4×8-bit
   * banding is then an exact prefilter (pigeonhole: 3 mismatching bits
   * cannot avoid all four bands). */
  def q45HammingPairs(s: SparkSession, dir: String): DataFrame = {
    val maxHamming = 2
    val sh = Shared.simhashes(s, dir)
    val bands = (0 until 4).map { b =>
      val p = math.pow(256, b).toLong
      sh.select(col("doc_id"), lit(b).as("band"),
        (expr(s"simhash div $p") % 256).as("key"))
    }.reduce(_ unionByName _)
    // bucket-size cap (same guard as the MinHash-LSH path): clustered
    // simhashes concentrate band values, and an uncapped hot bucket of
    // n docs emits n² candidates — 624k pairs at sf0.1 vs 3.3k capped.
    // An overloaded bucket carries no near-dup signal anyway (half the
    // corpus agreeing on one band is the vocabulary, not duplication).
    val sized = bands
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bucket_n") <= 50)
    val cands = sized.select(col("band"), col("key"), col("doc_id").as("doc1"))
      .join(sized.select(col("band"), col("key"), col("doc_id").as("doc2")),
        Seq("band", "key"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    cands
      .join(sh.select(col("doc_id").as("doc1"), col("simhash").as("s1")), Seq("doc1"))
      .join(sh.select(col("doc_id").as("doc2"), col("simhash").as("s2")), Seq("doc2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc1", "doc2", "hamming")
      .orderBy("doc1", "doc2")
  }

  /** q97: customReplace term highlighting (reference
    * `matching/analyser/TextEntitiesAnalyser.scala:287`,
    * `AdvancedInstrumentAnalyser.scala:770-776` — matched entity terms
    * are wrapped in `<b>` for the review UI). The highlighted term
    * here is each document's most frequent >=4-char token
    * (deterministic tie-break); the replacement is a word-boundary
    * regexp over the raw text, replayed verbatim by DuckDB. n_hits
    * falls out of the length delta (7 chars per wrap), and the md5
    * pins the full highlighted text byte-for-byte. */
  def q97Highlight(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val top = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 4)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tf").desc, col("tok"))))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("tok").as("term"))
    docs.join(top, Seq("doc_id"))
      .withColumn("highlighted", regexp_replace(col("text"),
        concat(lit("\\b"), col("term"), lit("\\b")),
        concat(lit("<b>"), col("term"), lit("</b>"))))
      .select(col("doc_id"), col("term"),
        expr("(length(highlighted) - length(text)) div 7").as("n_hits"),
        md5(col("highlighted")).as("highlighted_md5"))
      .orderBy("doc_id")
  }

  // BM25 constants, computed ONCE in Scala and interpolated into the
  // oracle SQL, so Spark and DuckDB evaluate bit-identical doubles
  // (1.2 + 1 in double arithmetic is not necessarily the literal 2.2).
  private val BmK1 = 1.2
  private val BmB = 0.75
  private val BmK1p1 = BmK1 + 1
  private val BmOneMinusB = 1 - BmB
  private val BmTopK = 10

  /** q107: BM25 ranked retrieval — more-like-this search where a FIXED
    * batch of documents (doc_id % 100 = 1, doc_id < 1000 — at most 10
    * queries at any scale) is ranked against the rest of the corpus by
    * Okapi BM25 (k1=1.2, b=0.75). Complements the embedding-side
    * search family (q30/q31/q70 cosine, q106 semantic dedup) with the
    * lexical ranking an analytics engine owes its users. The query
    * batch is deliberately NOT proportional to the corpus: a search
    * workload is fixed while the corpus grows, so the scoring cost is
    * linear in corpus size (measured: a corpus-proportional batch made
    * the stage quadratic — 26× for 10× data; the capped batch is the
    * recorded scale row in BASELINE.md).
    *
    * Scale shape: the corpus side is the (term → doc, tf) postings
    * list — the same inverted index q13 builds — with df/idf from one
    * map-side-combinable groupBy; the query side (distinct terms of
    * the query docs) is broadcast, so scoring is a broadcast join
    * against postings, shuffled once by (qdoc, doc) for the final sum.
    * Per-term contributions are micro-quantized BEFORE the sum, so the
    * distributed aggregation is exact integer arithmetic, insensitive
    * to summation order. */
  def q107Bm25(s: SparkSession, dir: String): DataFrame = {
    val t = toks(s, dir)
    val tf = t.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = t.filter(col("doc_id") % 100 === 1 && col("doc_id") < 1000)
      .select(col("doc_id").as("qdoc"),
        explode(array_distinct(col("toks"))).as("term"))
    val contrib = broadcast(qterms)
      .join(tf, Seq("term"))
      .filter(col("doc_id") =!= col("qdoc"))
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("c_micro", graft.functions.Exact.micro(
        col("idf") * (col("tf") * lit(BmK1p1)) /
          (col("tf") + lit(BmK1) *
            (lit(BmOneMinusB) + lit(BmB) * col("dl") / col("avgdl")))))
    val scored = contrib
      .groupBy("qdoc", "doc_id")
      .agg(sum("c_micro").as("score_micro"),
        count(lit(1)).as("n_terms"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("qdoc")
          .orderBy(col("score_micro").desc, col("doc_id"))))
      .filter(col("rnk") <= BmTopK)
      .select("qdoc", "doc_id", "score_micro", "n_terms", "rnk")
      .orderBy("qdoc", "rnk")
  }

  // RRF constants (Cormack et al. 2009's k=60), shared with the oracle
  private val RrfK = 60
  private val RrfTopK = 10

  /** q157: hybrid retrieval — reciprocal-rank fusion (RRF, Cormack,
    * Clarke & Buettcher 2009) of the lexical and vector search paths:
    * the q107 BM25 top-10 and a brute-cosine top-10 over the same
    * FIXED query batch (`id % 100 = 1 AND id < 1000` — ids that carry
    * both a document text and an embedding), fused per (query, doc) as
    * Σ 1/(k + rank) over the lists the doc appears in. This is the
    * retrieval-ops staple modern RAG stacks run (sparse + dense →
    * rank-fuse) and the natural composite of the engine's two search
    * families. Exact arithmetic: each reciprocal is
    * `round(1e9/(k+rank))` — one scalar division of identical
    * integers per list entry, summed as integers — so the fused
    * ranking hashes identically in both engines.
    *
    * Scale shape: both legs are broadcast-query × linear-corpus scans
    * (the q107/q30 shapes, batch fixed); the fusion itself joins two
    * ≤ batch·TopK row lists — dimension-sized work regardless of
    * corpus scale. */
  def q157HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = q107Bm25(s, dir)
      // the oracle truncates the lexical list at RrfTopK; BmTopK ==
      // RrfTopK today, but the explicit filter ties the Spark leg to
      // the SAME constant so changing BmTopK alone cannot desync them
      .filter(col("rnk") <= RrfTopK)
      .select(col("qdoc").as("qid"), col("doc_id"),
        col("rnk").as("lex_rnk"))
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") % 100 === 1 && col("vec_id") < 1000)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val vec = graft.operators.VectorSearch
      .cosineTopK(emb.select("vec_id", "embedding"), q, RrfTopK)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rnk").as("vec_rnk"))
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf_nano").desc, col("doc_id"))
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_nano",
        coalesce(expr(s"CAST(round(1e9 / ($RrfK + lex_rnk)) AS BIGINT)"),
          lit(0L)) +
        coalesce(expr(s"CAST(round(1e9 / ($RrfK + vec_rnk)) AS BIGINT)"),
          lit(0L)))
      .withColumn("fused_rnk", row_number().over(w))
      .filter(col("fused_rnk") <= RrfTopK)
      .select("qid", "doc_id", "lex_rnk", "vec_rnk", "rrf_nano",
        "fused_rnk")
      .orderBy("qid", "fused_rnk")
  }

  /** 16-bit hash-threshold granularity for the q114 sampler: rates are
    * expressed in 65536ths and compared against the first 4 md5 hex
    * chars, the same portable string-compare sampler q80 uses. */
  private val MixScale = 65536L

  /** q114: deterministic source-mixture sampling — resample the corpus
    * toward target per-source mixture weights under a global token
    * budget (the static-mixture reweighting step of a training-data
    * pipeline, cf. the sampling weights of Pile/DoReMi-style corpus
    * construction). Each source gets budget = (total/2)·w/Σw tokens;
    * its keep-rate is budget/src_tokens in 65536ths; a document is
    * kept iff its salted md5 bucket falls under the rate — fully
    * deterministic, reproducible across engines and runs, no RNG.
    *
    * Scale shape: one map-side-combinable groupBy(source) over the
    * corpus (20 rows out), rates derived on the tiny per-source frame
    * and broadcast back; the keep decision is a pure map-side filter.
    * No corpus shuffle at all, so the plan is scan-bound at any scale. */
  def q114MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"))
    // target mixture weight per source: deterministic 1..4 from the
    // source id (a stand-in for curated quality weights)
    val perSrc = d.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
      .withColumn("w", expr("CAST(substring(source, 4) AS BIGINT) % 4 + 1"))
    val tot = perSrc.agg(sum("src_tokens").as("total_tokens"),
      sum("w").as("sum_w"))
    val rates = perSrc.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(total_tokens div 2) * w div sum_w"))
      .withColumn("rate_u16",
        least(lit(MixScale), expr(s"budget * $MixScale div src_tokens")))
      .select("source", "src_tokens", "w", "rate_u16")
    d.join(broadcast(rates), Seq("source"))
      .withColumn("bucket_hex", substring(
        md5(concat(lit("graft-mix:"), col("doc_id").cast("string"))), 1, 4))
      .filter(col("rate_u16") >= MixScale ||
        col("bucket_hex") < format_string("%04x", col("rate_u16")))
      .select("doc_id", "source", "n_tokens", "w", "rate_u16", "bucket_hex")
      .orderBy("doc_id")
  }

  /** q115: unigram LM quality score — the perplexity-filter shape of
    * CCNet/Gopher with a unigram proxy for the LM: score(doc) = mean
    * token negative log-likelihood under the corpus unigram
    * distribution, micro-quantized per TERM before the weighted sum so
    * the distributed aggregation is exact integer arithmetic. Documents
    * in the band [[NllKeepLo]]..[[NllKeepHi]] are flagged keep:
    * below = degenerate/repetitive (all stopwords), above =
    * out-of-distribution junk — both tails are what a HQ-data filter
    * drops.
    *
    * Scale shape: two map-side-combinable groupBys (per-(doc,term) tf,
    * per-term counts) and a join on term. The per-term frame is
    * Zipf-bounded (vocab grows ~sublinearly; prune-below-min-count
    * makes it broadcastable at any scale); here it stays a regular join
    * so AQE picks broadcast when it fits. */
  def q115UnigramNll(s: SparkSession, dir: String): DataFrame = {
    val t = toks(s, dir)
    val tf = t.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val tot = cnt.agg(sum("cnt").as("n_total"))
    val nll = cnt.crossJoin(broadcast(tot))
      .withColumn("nll_micro", graft.functions.Exact.micro(
        log(col("n_total").cast("double") / col("cnt"))))
      .select("term", "nll_micro")
    tf.join(nll, Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("nll_micro")).as("nll_sum_micro"),
        sum("tf").as("n_tokens"))
      .withColumn("avg_nll_micro", expr("nll_sum_micro div n_tokens"))
      .withColumn("keep", col("avg_nll_micro").between(NllKeepLo, NllKeepHi))
      .select("doc_id", "n_tokens", "nll_sum_micro", "avg_nll_micro", "keep")
      .orderBy("doc_id")
  }

  // band calibrated to the synthetic corpus (5/95th pct ≈ 3.394/3.423
  // nats at sf0.01) so the filter exercises BOTH tails: below = too
  // stereotyped, above = out-of-distribution
  private val NllKeepLo = 3395000L   // mean NLL ≥ 3.395 nats
  private val NllKeepHi = 3410000L   // mean NLL ≤ 3.410 nats

  /** q144: overlapping document chunking — the RAG/embedding prep
    * step that slices every document into fixed-size token windows
    * (64 tokens, stride 48, 16-token overlap so no boundary context
    * is lost), emitting one row per chunk with its token span and
    * re-joined text. Pure map-side: `sequence` → `explode` →
    * `slice`/`array_join`, all inside whole-stage codegen — no
    * shuffle at all before the output sort; at 100 TB the chunker is
    * a free rider on the ingest scan. Chunk counts use the closed
    * form 1 + max(0, ⌈(n−64)/48⌉) in integer arithmetic. */
  def q144Chunking(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nchunks",
        expr("1 + greatest(0L, (n - 64 + 47) div 48)"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0L, nchunks - 1)")).as("chunk_idx"))
      .withColumn("start_tok", expr("chunk_idx * 48"))
      .withColumn("chunk_toks",
        expr("slice(toks, CAST(start_tok AS INT) + 1, 64)"))
      .withColumn("n_toks", size(col("chunk_toks")).cast("long"))
      .withColumn("chunk_text", array_join(col("chunk_toks"), " "))
      .select("doc_id", "chunk_idx", "start_tok", "n_toks", "chunk_text")
      .orderBy("doc_id", "chunk_idx")

  /** q145: cross-source similarity via MERGED MinHash signatures — the
    * dedup-ops report that tells you WHICH corpus sources overlap
    * before you pay for pairwise dedup between them. Per-document
    * signatures (the q25 scalar) collapse to one signature per SOURCE
    * through the native `graft_minhash_agg` — a DeclarativeAggregate
    * over 12 primitive long slots whose update/merge is element-wise
    * min ([[graft.functions.AggExpressions]]): signatures form a
    * monoid under element-wise min (sig(A ∪ B) = min(sig A, sig B)),
    * so source signatures build map-side and merge associatively —
    * at 100 TB each shard ships 12 longs per source, where the
    * relational spelling (explode + groupBy component) shuffles 12
    * rows per DOCUMENT. Pairwise source similarity is then estimated
    * from signature agreement (matching components / 12, the
    * standard MinHash Jaccard estimator) over a dimension-sized
    * join. */
  def q145SourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val sigs = graft.operators.TextDedup
      .shingleSets(Tables.documents(s, dir), "doc_id", "text", 5)
      .join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .filter(size(col("hashes")) > 0)
      .select(col("source"),
        TextFns.minhashSignature(col("hashes"), 12).as("sig"))
    val srcSigs = sigs.groupBy("source")
      .agg(expr("graft_minhash_agg(sig, 12)").as("sig"))
    val a = srcSigs.select(col("source").as("source1"), col("sig").as("sig1"))
    val b = srcSigs.select(col("source").as("source2"), col("sig").as("sig2"))
    a.join(b, col("source1") < col("source2"))
      .withColumn("n_match", expr(
        """aggregate(zip_with(sig1, sig2, (x, y) -> CAST(x = y AS LONG)),
           0L, (acc, v) -> acc + v)"""))
      .withColumn("jaccard_est_milli", expr("n_match * 1000 div 12"))
      .select("source1", "source2", "n_match", "jaccard_est_milli")
      .orderBy("source1", "source2")
  }

  /** q147: distinctive terms per source — log-odds with a +1 prior
    * (the "Fightin' Words" shape, Monroe et al. 2008): for each
    * (source, term), δ = ln((a+1)/(A−a+1)) − ln((b+1)/(B−b+1)) where
    * a/A are the term/total counts inside the source and b/B outside
    * it — the corpus-comparison readout ("what characterizes this
    * source") a curation team reads before reweighting a mixture.
    * Every ln input is a ratio of exact integer counts (identical
    * doubles both engines), δ is micro-quantized, and the top-3
    * ranking per source runs over the VOCAB-sized frame, never the
    * corpus. Two combinable groupBys + broadcast totals + one
    * window over (source × vocab). */
  def q147DistinctiveTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = toks(s, dir)
      .select(explode(col("toks")).as("term"),
        col("doc_id"))
      .join(Tables.documents(s, dir).select("doc_id", "source"),
        Seq("doc_id"))
      .groupBy("source", "term").agg(count(lit(1)).as("a"))
    val termTot = tf.groupBy("term").agg(sum("a").as("t"))
    val srcTot = tf.groupBy("source").agg(sum("a").as("sA"))
    val grand = tf.agg(sum("a").as("g"))
    val scored = tf.join(broadcast(termTot), Seq("term"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(grand))
      .withColumn("b", col("t") - col("a"))
      .withColumn("bB", col("g") - col("sA"))
      .withColumn("delta_micro", graft.functions.Exact.micro(
        log((col("a") + 1).cast("double") / (col("sA") - col("a") + 1)) -
          log((col("b") + 1).cast("double") / (col("bB") - col("b") + 1))))
    val w = Window.partitionBy("source")
      .orderBy(col("delta_micro").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("source", "term", "a", "delta_micro", "rnk")
      .orderBy("source", "rnk")
  }

  val queries: Map[String, Q] = Map(
    "q147_distinctive_terms" -> (q147DistinctiveTerms _),
    "q145_source_similarity" -> (q145SourceSimilarity _),
    "q144_chunking" -> (q144Chunking _),
    "q114_mixture_sample" -> (q114MixtureSample _),
    "q115_unigram_nll" -> (q115UnigramNll _),
    "q107_bm25" -> (q107Bm25 _),
    "q157_hybrid_rrf" -> (q157HybridRrf _),
    "q97_highlight" -> (q97Highlight _),
    "q21_token_stats" -> (q21TokenStats _),
    "q22_exact_dedup" -> (q22ExactDedup _),
    "q23_lang_id" -> (q23LangId _),
    "q205_label_kappa" -> (q205LabelKappa _),
    "q24_quality_score" -> (q24QualityScore _),
    "q25_minhash_signature" -> (q25MinhashSignature _),
    "q26_lsh_dup_pairs" -> (q26LshDupPairs _),
    "q27_simhash" -> (q27Simhash _),
    "q28_fingerprint" -> (q28Fingerprint _),
    "q29_cosine_shingles" -> (q29CosineShingles _),
    "q45_hamming_pairs" -> (q45HammingPairs _))

  // ---- oracle SQL --------------------------------------------------

  private[queries] val toksCte =
    s"""toks AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents)"""

  /** The q107 BM25 scoring chain ending in
    * `rk(qdoc, doc_id, score_micro, n_terms, rnk)` — shared with the
    * q157 fusion oracle so the lexical leg can never drift. */
  private lazy val bm25Ctes =
    s"""$toksCte,
       t AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
       tfw AS (SELECT doc_id, unnest(toks) AS term FROM t),
       tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM tfw GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
       dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         FROM tfc GROUP BY 1),
       qt AS (SELECT doc_id AS qdoc, unnest(list_distinct(toks)) AS term
         FROM t WHERE doc_id % 100 = 1 AND doc_id < 1000),
       sc AS (SELECT qt.qdoc, tfc.doc_id,
           CAST(round(
             ln(1.0 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
             * (tfc.tf * $BmK1p1)
             / (tfc.tf + $BmK1 * ($BmOneMinusB
                 + $BmB * dl.dl / (CAST(stats.tot_dl AS DOUBLE)
                   / stats.n_docs)))
             * 1e6) AS BIGINT) AS c_micro
         FROM qt
         JOIN tfc USING (term)
         JOIN dfc USING (term)
         JOIN dl ON dl.doc_id = tfc.doc_id
         CROSS JOIN stats
         WHERE tfc.doc_id <> qt.qdoc),
       agg AS (SELECT qdoc, doc_id,
           CAST(sum(c_micro) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_terms
         FROM sc GROUP BY 1, 2),
       rk AS (SELECT *, row_number() OVER (PARTITION BY qdoc
           ORDER BY score_micro DESC, doc_id) AS rnk FROM agg)"""

  /** CTE chain ending in `dup_pairs(doc1, doc2, n_shared, jaccard)` —
    * the MinHash-LSH near-dup pairs. Shared with DedupQueries'
    * connected-components oracle. Keep parameters in sync with
    * [[graft.operators.TextDedup.minhashDupPairs]] defaults. */
  val lshDupPairsCtes: String =
    s"""$toksCte,
       sets AS (SELECT doc_id,
         list_sort(list_distinct(${sqlShingleHashes("toks", 5)})) AS hashes
         FROM toks),
       fsets AS (SELECT * FROM sets WHERE len(hashes) > 0),
       sigs AS (SELECT doc_id, ${sqlMinhashSignature("hashes", 12)} AS sig FROM fsets),
       buckets AS (SELECT doc_id, b AS band,
         ${sqlBandKey("list_slice(sig, b*3+1, b*3+3)")} AS key
         FROM sigs, range(0, 4) t(b)),
       sized AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, key) AS bucket_n
         FROM buckets) WHERE bucket_n <= 50),
       cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         FROM sized a JOIN sized b ON a.band = b.band AND a.key = b.key
           AND a.doc_id < b.doc_id),
       joined AS (SELECT doc1, doc2,
         len(list_intersect(h1.hashes, h2.hashes)) AS n_shared,
         len(h1.hashes) AS n1, len(h2.hashes) AS n2
         FROM cand
         JOIN fsets h1 ON h1.doc_id = doc1
         JOIN fsets h2 ON h2.doc_id = doc2),
       dup_pairs AS (SELECT doc1, doc2, n_shared,
         ${r6Sql("n_shared / (n1 + n2 - n_shared)")} AS jaccard
         FROM joined
         WHERE ${r6Sql("n_shared / (n1 + n2 - n_shared)")} >= 0.2)"""

  private[queries] def langUnion: String = langSets.map { case (lang, words) =>
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, len(toks) AS n_tokens, '$lang' AS lang,
        len(list_filter(toks, x -> list_contains($lst, x))) AS hits
        FROM toks WHERE len(toks) > 0"""
  }.mkString("\nUNION ALL\n")

  private[queries] def r6Sql(e: String): String =
    s"CAST(round(($e)*1e6) AS BIGINT)/1e6"

  val oracles: Map[String, String] = Map(
    "q147_distinctive_terms" ->
      s"""WITH $toksCte,
         tfw AS (SELECT t.doc_id, unnest(t.toks) AS term FROM toks t),
         tf AS (SELECT d.source, w.term, CAST(count(*) AS BIGINT) AS a
           FROM tfw w JOIN documents d USING (doc_id)
           GROUP BY 1, 2),
         tt AS (SELECT term, CAST(sum(a) AS BIGINT) AS t FROM tf GROUP BY 1),
         st AS (SELECT source, CAST(sum(a) AS BIGINT) AS sa FROM tf GROUP BY 1),
         g AS (SELECT CAST(sum(a) AS BIGINT) AS g FROM tf),
         sc AS (SELECT tf.source, tf.term, tf.a,
             CAST(round((ln(CAST(tf.a + 1 AS DOUBLE) / (st.sa - tf.a + 1))
               - ln(CAST(tt.t - tf.a + 1 AS DOUBLE)
                 / (g.g - st.sa - (tt.t - tf.a) + 1))) * 1e6) AS BIGINT)
               AS delta_micro
           FROM tf JOIN tt USING (term) JOIN st USING (source) CROSS JOIN g),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
             ORDER BY delta_micro DESC, term) AS INTEGER) AS rnk
           FROM sc)
         SELECT source, term, a, delta_micro, rnk
         FROM r WHERE rnk <= 3 ORDER BY source, rnk""",
    "q145_source_similarity" ->
      s"""WITH $toksCte,
         sets AS (SELECT doc_id,
             list_sort(list_distinct(${TextFns.sqlShingleHashes("toks", 5)}))
               AS hashes
           FROM toks),
         fsets AS (SELECT * FROM sets WHERE len(hashes) > 0),
         sigs AS (SELECT d.source,
             ${TextFns.sqlMinhashSignature("hashes", 12)} AS sig
           FROM fsets JOIN documents d USING (doc_id)),
         comp AS (SELECT source, i,
             CAST(min(sig[CAST(i + 1 AS INTEGER)]) AS BIGINT) AS m
           FROM sigs, range(0, 12) t(i) GROUP BY 1, 2),
         pairs AS (SELECT a.source AS source1, b.source AS source2,
             CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
           FROM comp a JOIN comp b
             ON a.i = b.i AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source1, source2, n_match,
           n_match * 1000 // 12 AS jaccard_est_milli
         FROM pairs ORDER BY source1, source2""",
    "q144_chunking" ->
      s"""WITH $toksCte,
         t AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
           FROM toks WHERE len(toks) > 0),
         c AS (SELECT doc_id, toks, n,
             1 + greatest(0, (n - 64 + 47) // 48) AS nchunks FROM t),
         e AS (SELECT doc_id, toks, n,
             CAST(unnest(range(0, nchunks)) AS BIGINT) AS chunk_idx
           FROM c)
         SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
           CAST(len(list_slice(toks,
             CAST(chunk_idx * 48 + 1 AS INTEGER),
             CAST(least(chunk_idx * 48 + 64, n) AS INTEGER))) AS BIGINT)
             AS n_toks,
           array_to_string(list_slice(toks,
             CAST(chunk_idx * 48 + 1 AS INTEGER),
             CAST(least(chunk_idx * 48 + 64, n) AS INTEGER)), ' ')
             AS chunk_text
         FROM e ORDER BY doc_id, chunk_idx""",
    "q114_mixture_sample" ->
      s"""WITH raw AS (SELECT doc_id, source, ${sqlTokens("text")} AS toks
           FROM documents),
         d AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
           FROM raw WHERE len(toks) > 0),
         per_src AS (SELECT source,
             CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
             CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS w
           FROM d GROUP BY source),
         tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(w) AS BIGINT) AS sum_w FROM per_src),
         rates AS (SELECT source, src_tokens, w,
             least($MixScale, ((total_tokens // 2) * w // sum_w)
               * $MixScale // src_tokens) AS rate_u16
           FROM per_src CROSS JOIN tot)
         SELECT doc_id, d.source, n_tokens, w, rate_u16,
           substring(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
             AS bucket_hex
         FROM d JOIN rates ON d.source = rates.source
         WHERE rate_u16 >= $MixScale
           OR substring(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
             < printf('%04x', rate_u16)
         ORDER BY doc_id""",
    "q115_unigram_nll" ->
      s"""WITH $toksCte,
         t AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
         tfw AS (SELECT doc_id, unnest(toks) AS term FROM t),
         tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tfw GROUP BY 1, 2),
         cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt
           FROM tfc GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnt),
         nll AS (SELECT term,
             CAST(round(ln(CAST(n_total AS DOUBLE) / cnt) * 1e6) AS BIGINT)
               AS nll_micro
           FROM cnt CROSS JOIN tot),
         agg AS (SELECT doc_id,
             CAST(sum(tf * nll_micro) AS BIGINT) AS nll_sum_micro,
             CAST(sum(tf) AS BIGINT) AS n_tokens
           FROM tfc JOIN nll USING (term) GROUP BY doc_id)
         SELECT doc_id, n_tokens, nll_sum_micro,
           nll_sum_micro // n_tokens AS avg_nll_micro,
           nll_sum_micro // n_tokens BETWEEN $NllKeepLo AND $NllKeepHi
             AS keep
         FROM agg ORDER BY doc_id""",
    "q107_bm25" ->
      s"""WITH $bm25Ctes
         SELECT qdoc, doc_id, score_micro, n_terms, rnk
         FROM rk WHERE rnk <= $BmTopK ORDER BY qdoc, rnk""",
    "q157_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         lex AS (SELECT qdoc AS qid, doc_id, rnk AS lex_rnk
           FROM rk WHERE rnk <= $RrfTopK),
         vq AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings
           WHERE vec_id % 100 = 1 AND vec_id < 1000),
         vsc AS (SELECT qid, vec_id,
             ${r6Sql(graft.operators.VectorSearch
               .sqlCosine("qemb", "embedding"))} AS cosine
           FROM embeddings CROSS JOIN vq WHERE qid <> vec_id),
         vrk AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY cosine DESC, vec_id) AS rnk FROM vsc),
         vec AS (SELECT qid, vec_id AS doc_id, rnk AS vec_rnk
           FROM vrk WHERE rnk <= $RrfTopK),
         f AS (SELECT coalesce(lex.qid, vec.qid) AS qid,
             coalesce(lex.doc_id, vec.doc_id) AS doc_id,
             lex_rnk, vec_rnk,
             coalesce(CAST(round(1e9 / ($RrfK + lex_rnk)) AS BIGINT), 0)
               + coalesce(CAST(round(1e9 / ($RrfK + vec_rnk)) AS BIGINT), 0)
               AS rrf_nano
           FROM lex FULL OUTER JOIN vec
             ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id),
         rkf AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY rrf_nano DESC, doc_id) AS fused_rnk FROM f)
         SELECT qid, doc_id, lex_rnk, vec_rnk, rrf_nano, fused_rnk
         FROM rkf WHERE fused_rnk <= $RrfTopK ORDER BY qid, fused_rnk""",
    "q97_highlight" ->
      s"""WITH $toksCte,
         tf AS (SELECT doc_id, t AS tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS t FROM toks)
           WHERE length(t) >= 4 GROUP BY doc_id, t),
         top AS (SELECT doc_id, tok AS term FROM
           (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tf DESC, tok) AS rnk FROM tf)
           WHERE rnk = 1),
         h AS (SELECT d.doc_id, t.term, d.text,
             regexp_replace(d.text, '\\b' || t.term || '\\b',
               '<b>' || t.term || '</b>', 'g') AS highlighted
           FROM documents d JOIN top t USING (doc_id))
         SELECT doc_id, term,
           CAST((length(highlighted) - length(text)) // 7 AS BIGINT) AS n_hits,
           md5(highlighted) AS highlighted_md5
         FROM h ORDER BY doc_id""",
    "q21_token_stats" ->
      s"""WITH $toksCte
         SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           length(text) AS text_len,
           ${r6Sql("list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) / len(toks)")} AS avg_tok_len,
           CAST(ceil(length(text) / 3.5) AS BIGINT) AS subword_est
         FROM toks WHERE len(toks) > 0 ORDER BY doc_id""",
    "q22_exact_dedup" ->
      """SELECT doc_id, md5(text) AS content_hash,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         count(*) OVER (PARTITION BY md5(text)) AS group_size
         FROM documents ORDER BY doc_id""",
    "q23_lang_id" ->
      s"""WITH $toksCte,
         scores AS ($langUnion),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           ORDER BY hits DESC, lang) AS rn FROM scores)
         SELECT doc_id,
           CASE WHEN hits = 0 THEN 'und' ELSE lang END AS predicted_lang,
           hits, n_tokens,
           ${r6Sql("hits / n_tokens")} AS ratio
         FROM ranked WHERE rn = 1 ORDER BY doc_id""",
    // both annotators replayed; p_o/p_e as integer micro units, kappa
    // one final round of a double from exactly-agreed integers. The
    // calibration gold set is the SAME Scala literal the query uses,
    // embedded as VALUES — parity by construction.
    "q205_label_kappa" -> {
      val wlValues = langSets
        .flatMap { case (lang, ws) => ws.map(w => s"('$w', '$lang')") }
        .mkString(", ")
      val calValues = calibrationFamily
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      s"""WITH cal(doc_id, text) AS (VALUES $calValues),
         alldocs AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM cal),
         toks AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks
           FROM alldocs),
         la0 AS ($langUnion),
         la AS (SELECT doc_id,
             CASE WHEN hits = 0 THEN 'und' ELSE lang END AS label_a
           FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY hits DESC, lang) AS rn FROM la0) WHERE rn = 1),
         wl(tok, wl_lang) AS (VALUES $wlValues),
         tokpos AS (SELECT doc_id, u.pos, u.tok FROM (
           SELECT doc_id, unnest(list_transform(toks,
             (x, i) -> struct_pack(pos := i - 1, tok := x))) AS u
           FROM toks WHERE len(toks) > 0)),
         fv AS (SELECT doc_id, wl_lang AS label_b FROM (
           SELECT t.doc_id, t.pos, wl.wl_lang,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY t.pos, wl.wl_lang) AS rn
           FROM tokpos t JOIN wl ON wl.tok = t.tok) WHERE rn = 1),
         conf AS (SELECT la.label_a,
             coalesce(fv.label_b, 'und') AS label_b,
             CAST(count(*) AS BIGINT) AS n
           FROM la LEFT JOIN fv USING (doc_id) GROUP BY 1, 2),
         sc AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN label_a = label_b THEN n ELSE 0 END)
               AS BIGINT) AS diag FROM conf),
         rm AS (SELECT label_a, CAST(sum(n) AS BIGINT) AS row_n
           FROM conf GROUP BY 1),
         cm AS (SELECT label_b, CAST(sum(n) AS BIGINT) AS col_n
           FROM conf GROUP BY 1),
         pe AS (SELECT coalesce(sum(CAST(row_n AS HUGEINT) * col_n),
             0) AS pe_num
           FROM rm JOIN cm ON rm.label_a = cm.label_b),
         k AS (SELECT diag * 1000000 // nn AS po_micro,
             CAST(pe_num * 1000000 // (CAST(nn AS HUGEINT) * nn)
               AS BIGINT) AS pe_micro
           FROM sc, pe),
         k2 AS (SELECT po_micro, pe_micro,
             CASE WHEN pe_micro >= 1000000 THEN NULL ELSE
               CAST(round((po_micro - pe_micro) * 1e6
                 / (1000000 - pe_micro)) AS BIGINT) END AS kappa_micro
           FROM k)
         SELECT label_a, label_b, n, po_micro, pe_micro, kappa_micro
         FROM conf CROSS JOIN k2 ORDER BY label_a, label_b"""
    },
    "q24_quality_score" ->
      s"""WITH $toksCte,
         base AS (SELECT doc_id, len(toks) AS n_tokens, length(text) AS text_len,
           len(list_filter(toks, x -> list_contains(['the', 'a', 'is', 'of', 'to'], x))) AS stop_hits,
           length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha_chars
           FROM toks WHERE len(toks) > 0),
         ratios AS (SELECT doc_id, n_tokens,
           stop_hits / n_tokens AS stop_ratio_raw,
           alpha_chars / text_len AS alpha_ratio_raw FROM base)
         SELECT doc_id, n_tokens,
           ${r6Sql("stop_ratio_raw")} AS stop_ratio,
           ${r6Sql("alpha_ratio_raw")} AS alpha_ratio,
           ${r6Sql("0.3 * least(1.0, n_tokens / 50.0) + 0.4 * stop_ratio_raw + 0.3 * alpha_ratio_raw")} AS quality
         FROM ratios ORDER BY doc_id""",
    "q25_minhash_signature" ->
      s"""WITH $toksCte,
         sets AS (SELECT doc_id,
           list_sort(list_distinct(${sqlShingleHashes("toks", 5)})) AS hashes
           FROM toks),
         sigs AS (SELECT doc_id, ${sqlMinhashSignature("hashes", 12)} AS sig
           FROM sets WHERE len(hashes) > 0)
         SELECT doc_id, i AS seed_idx, sig[i+1] AS minhash
         FROM sigs, range(0, 12) t(i) ORDER BY doc_id, seed_idx""",
    "q26_lsh_dup_pairs" ->
      s"""WITH $lshDupPairsCtes
         SELECT doc1, doc2, n_shared, jaccard FROM dup_pairs
         ORDER BY doc1, doc2""",
    "q27_simhash" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(toks, t -> ${sqlPolyHash("t")}) AS hs
           FROM toks WHERE len(toks) > 0)
         SELECT doc_id, simhash,
           CAST(floor(simhash / 65536.0) AS BIGINT) AS band16
         FROM (SELECT doc_id, ${sqlSimhash32("hs")} AS simhash FROM th)
         ORDER BY doc_id""",
    "q28_fingerprint" ->
      s"""WITH $toksCte,
         hs3 AS (SELECT doc_id, ${sqlShingleHashes("toks", 3)} AS hs FROM toks)
         SELECT doc_id, ${sqlFingerprint("hs", 4)} AS fp
         FROM hs3 WHERE len(hs) > 0 ORDER BY doc_id""",
    "q29_cosine_shingles" ->
      s"""WITH $toksCte,
         terms AS (SELECT doc_id, unnest(${sqlShingleHashes("toks", 3)}) AS term FROM toks),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM terms),
         tfr AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         idf AS (SELECT term,
           CAST(round(log10(CAST(n_docs AS DOUBLE)/df)*1000) AS BIGINT) AS idf_milli
           FROM (SELECT term, count(*) AS df FROM tfr GROUP BY term), nd
           WHERE df <= 100),
         weights AS (SELECT doc_id, tfr.term, tf * idf_milli AS w
           FROM tfr JOIN idf ON tfr.term = idf.term),
         norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS sxx
           FROM weights GROUP BY doc_id HAVING sum(w * w) > 0),
         dots AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(sum(a.w * b.w) AS BIGINT) AS dot, count(*) AS n_shared
           FROM weights a JOIN weights b ON a.term = b.term AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT doc1, doc2, n_shared,
           ${r6Sql("dot / (sqrt(n1.sxx) * sqrt(n2.sxx))")} AS cosine
         FROM dots
         JOIN norms n1 ON n1.doc_id = doc1
         JOIN norms n2 ON n2.doc_id = doc2
         WHERE ${r6Sql("dot / (sqrt(n1.sxx) * sqrt(n2.sxx))")} >= 0.1
         ORDER BY doc1, doc2""",
    "q45_hamming_pairs" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(toks, t -> ${sqlPolyHash("t")}) AS hs
           FROM toks WHERE len(toks) > 0),
         sh AS (SELECT doc_id, ${sqlSimhash32("hs")} AS simhash FROM th),
         bands AS (SELECT doc_id, b AS band,
           (simhash // CAST(power(256, b) AS BIGINT)) % 256 AS key
           FROM sh, range(0, 4) t(b)),
         sized AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, key) AS bucket_n
           FROM bands) WHERE bucket_n <= 50),
         cands AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
           FROM sized a JOIN sized b ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id)
         SELECT doc1, doc2,
           bit_count(xor(s1.simhash, s2.simhash)) AS hamming
         FROM cands
         JOIN sh s1 ON s1.doc_id = doc1
         JOIN sh s2 ON s2.doc_id = doc2
         WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 2
         ORDER BY doc1, doc2""")
}
