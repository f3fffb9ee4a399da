package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.SweepOrder.{Family, Graph}
import graft.functions.TextFns
import graft.operators.{DoiStitch, SuffixLemmatizer, SuffixPosTagger, WordClassifier}

/** NLP-analyser parity family, round 4: the dictionary word/formula
  * classifier (`utils/nlp/FormulaAnalyser/service/WordService.java:34-420`,
  * consumed as `matching/analyser/FormulaAnalyser.scala:53-85`), the
  * ILL-DOI suffix stitcher (`utils/nlp/CodeAnalyser/CodeAnalyserService
  * .java:55-186`), and the corpus-vs-general-English word-spec distance
  * (`matching/analyser/DocumentWordSpecAnalyser2.scala:57-116`) over the
  * pluggable lemmatizer.
  *
  * The corpus vocabulary is a closed 31-word set, so classifier- and
  * DOI-shaped inputs are derived deterministically from it: selected
  * tokens are rewritten into formula/DOI-bearing strings with the SAME
  * CASE mapping on the Spark and DuckDB sides; the classifier itself
  * runs the full battery on the Spark side, while the oracle carries
  * the hand-derived classification of the (closed) candidate set —
  * each entry justified from the battery rules, the same scheme the
  * q55 stem oracle uses. FormulaSpec holds the per-branch goldens.
  */
object NlpQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The corpus vocabulary doubles as the english dictionary; the other
    * dictionaries are small fixtures (reference: resource files). */
  val dicts: WordClassifier.Dictionaries = WordClassifier.Dictionaries(
    english = Set("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector",
      "window"),
    names = Set("smith", "garcia", "muller", "chen"),
    cities = Set("grenoble", "paris", "london"),
    countries = Set("france", "germany", "china"),
    instrumentCodes = Set("d22", "in5", "thales"))

  /** The per-document "address" blacklist string (reference passes the
    * document address; here a constant covering the negative control). */
  val blackList = "CdTe123"

  /** token → injected classifier probe. Chosen to cover the battery:
    * full formula, composed formula via the special-fragment rule,
    * isotope, parenthesised special-char formula, and the three veto
    * families (uppercase non-element word, digit-heavy code,
    * blacklisted skeleton). */
  val inject: Seq[(String, String)] = Seq(
    "hash" -> "YBa2Cu3O7",          // full formula
    "key" -> "H2SO4",               // full formula with 1-char elements
    "merge" -> "La0.63Ca0.37MnO3",  // special-fragment composed formula
    "row" -> "647Pb",               // isotope
    "scan" -> "(TaSe4)2I",          // parenthesised, special-fragment
    "table" -> "BUNSEKI",           // veto: all-uppercase non-element
    "line" -> "F-76432",            // veto: digit-heavy (postcode rule)
    "filter" -> "CdTe123")          // veto: blacklisted skeleton

  /** Words the battery accepts from the injected set — hand-derived
    * from the rules (see scaladoc + FormulaSpec, which pins each). */
  val expectedFormulas: Seq[String] = Seq(
    "(TaSe4)2I", "647Pb", "H2SO4", "La0.63Ca0.37MnO3", "YBa2Cu3O7")

  private def injectCol(c: Column): Column =
    inject.foldLeft(when(lit(false), c)) { case (acc, (tok, repl)) =>
      acc.when(c === tok, lit(repl))
    }.otherwise(c)

  /** q84: dictionary/formula classifier → per-document formula entities
    * with TF and deterministic ids (the FormulaAnalyser output shape:
    * entity_id, formula_code, document_version_id, tf — with dense_rank
    * replacing StringIndexer per SURVEY §7.4-2).
    *
    * Plan shape for scale: the classifier (a scalar Scala function over
    * broadcast dictionaries) runs once per DISTINCT word — the
    * vocabulary, orders of magnitude smaller than the corpus — and the
    * accepted formulas broadcast-semi-join back onto the token stream;
    * the corpus itself only ever flows through split/explode/hash-agg. */
  def q84FormulaEntities(s: SparkSession, dir: String): DataFrame = {
    // the reference's exact text split: [\s+|\n]|– (FormulaAnalyserService)
    // ONE corpus pass (round 17, guide §2.3): the raw token stream
    // aggregates to per-(w, doc) counts map-side first; the vocabulary
    // (for the classifier) and the join-back both run off that
    // aggregated frame, where the previous spelling tokenized and
    // exploded the whole corpus twice (once for the distinct, once for
    // the join). Σ tf over w→entity groups equals counting the raw
    // occurrence rows — identical output.
    val wtf = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(col("text"), "[\\s+|\\n]|–")).as("raw"))
      .withColumn("w", injectCol(col("raw")))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("wtf"))
    val classifyFormula = udf { w: String =>
      val (clean, types) = WordClassifier.classify(w, dicts, blackList)
      if (types.contains("formula")) clean else null
    }
    // the classifier still runs once per DISTINCT word — the distinct
    // is now over the (w, doc) frame, not the raw occurrence stream
    val formulas = wtf.select("w").distinct()
      .select(col("w"), classifyFormula(col("w")).as("entity"))
      .filter(col("entity").isNotNull)
    wtf.join(broadcast(formulas), Seq("w"))
      .groupBy("entity", "doc_id")
      .agg(sum("wtf").as("tf"))
      .withColumn("entity_id",
        dense_rank().over(Window.orderBy("entity")).cast("long"))
      .select("entity_id", "entity", "doc_id", "tf")
      .orderBy("entity", "doc_id")
  }

  /** q85: ILL-DOI suffix stitching over deterministic DOI-bearing
    * sentences derived from doc_id (four variants: space-split
    * "-DATA.<code>" suffix, dot-split suffix, non-ILL DOI control,
    * invalid-code control). The Spark side runs the real general
    * stitcher (DoiStitch.analyseIllDoi); the oracle mirrors the
    * controlled construction arithmetically. */
  def q85DoiStitch(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      (col("doc_id") % 9 + 1).cast("string").as("a"),
      (col("doc_id") % 20 + 10).cast("string").as("b"),
      (col("doc_id") % 999 + 1).cast("string").as("c"),
      (lit(1000) + col("doc_id") % 9000).cast("string").as("reg"))
    val text = when(col("doc_id") % 4 === 0,
        concat(lit("ref 10.5291/ILL -DATA."), col("a"), lit("-"), col("b"),
          lit("-"), col("c"), lit(" end")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("ref 10.5291/ILL-DATA. "), col("a"), lit("-"), col("b"),
          lit("-"), col("c"), lit(" end")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("see 10."), col("reg"), lit("/x"), col("c"), lit(" tail")))
      .otherwise(
        concat(lit("ref 10.5291/ILL -DATA.0-"), col("b"), lit("-"), col("c"),
          lit(" end")))
    val stitch = udf((t: String) => DoiStitch.analyseIllDoi(t))
    d.withColumn("doi", explode(stitch(text)))
      .select("doc_id", "doi")
      .orderBy("doc_id", "doi")
  }

  /** General-English word frequencies — the fixture standing in for the
    * reference's wordFrequency.txt resource (S6). Includes plural
    * inflections so the english side exercises lemma-group aggregation
    * exactly like the reference's `lemma(word)` + groupBy(lemma). */
  val wordFreq: Seq[(String, Long)] = Seq(
    "the" -> 50000L, "a" -> 30000L, "and" -> 28000L,
    "data" -> 9000L, "table" -> 4000L, "tables" -> 1500L,
    "value" -> 5200L, "values" -> 2100L, "row" -> 2600L, "rows" -> 1100L,
    "line" -> 3400L, "lines" -> 1300L, "key" -> 2800L, "keys" -> 900L,
    "query" -> 1400L, "queries" -> 800L, "order" -> 3600L, "orders" -> 1200L,
    "part" -> 3100L, "parts" -> 1250L, "group" -> 2900L, "groups" -> 950L,
    "filter" -> 700L, "filters" -> 260L, "window" -> 1050L, "windows" -> 640L,
    "column" -> 520L, "columns" -> 480L, "sort" -> 610L, "join" -> 430L,
    "merge" -> 390L, "batch" -> 370L, "stream" -> 340L, "streams" -> 160L,
    "hash" -> 210L, "scan" -> 190L, "customer" -> 880L, "customers" -> 410L,
    "fast" -> 1600L, "slow" -> 980L, "big" -> 2200L, "small" -> 2400L,
    "agg" -> 25L, "dup" -> 18L, "spark" -> 30L, "vector" -> 240L)

  /** The reference anchors english document count on the frequency of
    * "the" (`DocumentWordSpecAnalyser2.scala:64`). */
  val englishDocCount: Long = wordFreq.toMap.apply("the")

  private val minDistanceMilli = 2500L
  private val minPccFrequency = 2L

  /** q87: corpus-vs-general-English IDF distance per lemma + document
    * resume (DocumentWordSpecAnalyser2 phases: english IDF over the
    * lemma-grouped frequency table normalized by `engDocs div
    * corpusDocs`; corpus IDF from per-lemma document frequency;
    * distance = idf difference, early-position occurrences only;
    * per-document roll-up of distinct qualifying lemmas).
    *
    * All ratios ride exact integers (milli-IDFs, cross-multiplied
    * position test); the CoreNLP lemma/POS stage maps to the pluggable
    * SuffixLemmatizer + a token-length floor (the honest stand-in:
    * SURVEY §7.4-5). */
  def q87WordSpec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val nd = docs.agg(countDistinct("doc_id").as("n_docs"))

    // english side: lemma-group the frequency fixture (len>1 words,
    // as the reference's englishLemma does), normalize by the integer
    // factor, milli-quantized ln IDF
    val eng = wordFreq.toDF("word", "frequency")
      .filter(length(col("word")) > 1)
      .withColumn("lemma", SuffixLemmatizer.lemma(col("word")))
      .groupBy("lemma")
      .agg(sum("frequency").as("eng_raw"))
      .crossJoin(broadcast(nd))
      // floor at 1: a corpus larger than englishDocCount would zero the
      // factor and the IDF ratio would divide by zero (Spark/DuckDB
      // disagree on the fallout, so guard both sides identically)
      .withColumn("factor",
        greatest(expr(s"$englishDocCount div n_docs"), lit(1L)))
      .withColumn("eng_idf_milli",
        round(log(col("n_docs").cast("double") / (col("eng_raw") / col("factor"))) * 1000)
          .cast("long"))
      .select("lemma", "eng_raw", "eng_idf_milli")

    // corpus side: early-position (first third) lemma occurrences;
    // document_length reproduces the reference's +1 quirk (the word
    // counter is post-incremented before being emitted)
    // materialize the token array once: putting size(tokens(text))
    // next to the generator would re-run the regex split per OUTPUT
    // row (no CSE between Generate and its projection)
    val tok = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "word")),
        (size(col("toks")) + 1).as("doc_len"))
      .withColumn("lemma", SuffixLemmatizer.lemma(col("word")))
      // the reference's allowedPosTag ∧ lemma-length gate, over the
      // pluggable tagger (CoreNLP would slot in behind the same trait)
      .filter(SuffixPosTagger.tag(col("word"))
        .isin(SuffixPosTagger.allowed: _*) && length(col("lemma")) >= 4)
    val pcc = tok.groupBy("lemma")
      .agg(countDistinct("doc_id").as("pcc_df"))
      .filter(col("pcc_df") > minPccFrequency)
      .crossJoin(broadcast(nd))
      .withColumn("pcc_idf_milli",
        round(log(col("n_docs").cast("double") / col("pcc_df")) * 1000).cast("long"))
      .select("lemma", "pcc_df", "pcc_idf_milli")

    val spec = tok
      .filter((col("pos") + 1) * 100 <= col("doc_len") * 33)
      .join(pcc, Seq("lemma"))
      .join(broadcast(eng), Seq("lemma"))
      .withColumn("distance_milli",
        col("eng_idf_milli") - col("pcc_idf_milli"))
      .filter(col("distance_milli") >= minDistanceMilli)

    spec.select("doc_id", "lemma", "distance_milli").distinct()
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lemmas"),
        sum("distance_milli").as("total_distance_milli"),
        array_join(array_sort(collect_list(col("lemma"))), ",").as("lemmas"))
      .orderBy("doc_id")
  }

  /** RAKE stopword set (the corpus articles). */
  private val rakeStop = Seq("the", "a")

  /** q89: RAKE keyword extraction (the reference ships RAKE alongside
    * the word-spec analyser, `DocumentWordSpecAnalyser2.scala:251-321`)
    * re-expressed relationally:
    *  - candidate phrases are maximal stopword-free token runs
    *    (gaps-and-islands), truncated to the run's LAST
    *    maxWordsInPhrase=2 words when longer — exactly what the
    *    reference's drop-head-and-retake recursion converges to;
    *  - word score = degree/freq where freq counts phrase-word
    *    occurrences and degree adds (len-1) per occurrence, in exact
    *    integer micro units ((freq+extra)·1e6 div freq — the Exact
    *    doctrine stand-in for the reference's raw double ratio);
    *  - phrase score = Σ word scores; top-3 per document with a
    *    deterministic (score desc, phrase) tiebreak. */
  def q89RakeKeywords(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir).select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "w")))
    val acc = tok.filter(!col("w").isin(rakeStop: _*) &&
      col("w").rlike("^[a-z]+$"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val runs = acc
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("ws"))
      .select(col("doc_id"),
        transform(
          when(size(col("ws")) <= 2, col("ws"))
            .otherwise(slice(col("ws"), -2, 2)),
          x => x.getField("w")).as("pwords"))
      .withColumn("plen", size(col("pwords")))
    val scores = runs
      .select(col("doc_id"), explode(col("pwords")).as("w"),
        (col("plen") - 1).as("deg_extra"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("freq"), sum("deg_extra").as("extra"))
      .withColumn("score_micro", expr("(freq + extra) * 1000000 div freq"))
    val phrases = runs
      .select(col("doc_id"), array_join(col("pwords"), " ").as("phrase"))
      .distinct()
    val pScores = phrases
      .select(col("doc_id"), col("phrase"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(scores, Seq("doc_id", "w"))
      .groupBy("doc_id", "phrase")
      .agg(sum("score_micro").as("score_micro"))
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("phrase"))
    pScores.withColumn("rnk", rank().over(rankW))
      .filter(col("rnk") <= 3)
      .orderBy("doc_id", "rnk", "phrase")
  }

  private val BpeMerges = 4

  /** q119: BPE merge learning — the first [[BpeMerges]] byte-pair-
    * encoding merges of a tokenizer trained on the corpus (Sennrich et
    * al. 2016: repeatedly merge the most frequent adjacent symbol
    * pair, weighted by word frequency). Words are
    * lowercase-alpha tokens; symbols are marker-wrapped (`<x>`) and
    * space-joined so a merge is one literal `replace` — both engines'
    * `replace` substitutes left-to-right non-overlapping, which IS
    * BPE's greedy-left merge order. Ties break lexicographically.
    * Output: one row per merge — the pair, its weighted count, and
    * the corpus symbol total after the merge (the compression curve a
    * vocab-size decision reads).
    *
    * Scale shape: everything runs on the WORD-FREQUENCY table, not
    * the corpus — one map-side-combinable groupBy builds it, and the
    * Zipf-bounded vocabulary is what the [[BpeMerges]] bounded driver
    * iterations (one tiny argmax collect each, the q72 driver-loop
    * shape) scan. The corpus itself is read once. */
  /** The marker-wrapped word-frequency segmentation table BPE learning
    * and encoding share (built once per session). */
  private[graft] lazy val bpeVocab: Family[Unit] = Family[Unit]("bpeVocab",
      Graph, Nil, Set("q119_bpe_merges", "q131_bpe_encode")) { (s, dir, _) =>
    Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", concat_ws(" ",
        transform(split(col("word"), ""), c => concat(lit("<"), c, lit(">")))))
  }

  /** Most frequent adjacent symbol pair of `seg` (freq-weighted, ties
    * lexicographic) — one bounded argmax collect, the q72 driver-loop
    * shape. */
  private def bpeBestPair(seg: DataFrame): (String, String, Long) = {
    val best = seg
      .withColumn("els", split(col("s"), " "))
      .filter(size(col("els")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(els) - 2), i -> struct(els[i] AS a, els[i + 1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1).collect()(0)
    (best.getString(0), best.getString(1), best.getLong(2))
  }

  def q119BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    var seg = bpeVocab(s, dir).select("freq", "s")
    val out = Seq.newBuilder[(Long, String, String, Long, Long)]
    for (r <- 1 to BpeMerges) {
      val (a, b, cnt) = bpeBestPair(seg)
      val merged = "<" + a.substring(1, a.length - 1) +
        b.substring(1, b.length - 1) + ">"
      seg = seg.withColumn("s", expr(s"replace(s, '$a $b', '$merged')"))
      val syms = seg.select(sum(col("freq") * size(split(col("s"), " "))))
        .head.getLong(0)
      out += ((r.toLong, a.substring(1, a.length - 1),
        b.substring(1, b.length - 1), cnt, syms))
    }
    out.result()
      .toDF("merge_rank", "left_sym", "right_sym", "cnt", "syms_after")
      .orderBy("merge_rank")
  }

  /** q131: BPE encoding — apply the q119-learned merges to the corpus
    * and report per-document token counts, the number a training
    * pipeline budgets against. The merges are re-derived on the shared
    * memoized vocab (4 bounded argmax collects) and then applied to
    * the VOCAB, never the corpus: the corpus only explodes to words
    * and joins the broadcast word → symbol-count table — at 100 TB
    * the expensive replace-loop runs over the Zipf-bounded vocabulary
    * while the corpus-side work is one map-side explode + broadcast
    * join + combinable sum. Output per doc: alpha-word count, their
    * character mass, the BPE token count, and tokens-per-1000-chars
    * (the compression a vocab-size decision reads). */
  def q131BpeEncode(s: SparkSession, dir: String): DataFrame = {
    var seg = bpeVocab(s, dir).select("word", "freq", "s")
    for (_ <- 1 to BpeMerges) {
      val (a, b, _) = bpeBestPair(seg)
      val merged = "<" + a.substring(1, a.length - 1) +
        b.substring(1, b.length - 1) + ">"
      seg = seg.withColumn("s", expr(s"replace(s, '$a $b', '$merged')"))
    }
    val wtok = seg.select(col("word"),
      size(split(col("s"), " ")).cast("long").as("n_syms"),
      length(col("word")).cast("long").as("n_chars_w"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .join(broadcast(wtok), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_chars_w").as("n_chars"),
        sum("n_syms").as("n_bpe_tokens"))
      .withColumn("ratio_milli", expr("n_bpe_tokens * 1000 div n_chars"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q119_bpe_merges" -> (q119BpeMerges _),
    "q131_bpe_encode" -> (q131BpeEncode _),
    "q84_formula_entities" -> (q84FormulaEntities _),
    "q85_doi_stitch" -> (q85DoiStitch _),
    "q87_word_spec" -> (q87WordSpec _),
    "q89_rake_keywords" -> (q89RakeKeywords _))

  // ---- oracle SQL --------------------------------------------------

  private val injectSql =
    "CASE raw " + inject.map { case (t, r) => s"WHEN '$t' THEN '$r'" }
      .mkString(" ") + " ELSE raw END"

  private val formulasSql =
    expectedFormulas.map(f => s"('$f')").mkString(", ")

  private val wordFreqSql =
    wordFreq.map { case (w, f) => s"('$w', $f)" }.mkString(", ")

  /** One unrolled BPE iteration: pair counts over `prev`, the argmax
    * pair (ties lexicographic), the merged segmentation, and the
    * post-merge corpus symbol total. Mirrors q119BpeMerges exactly. */
  private def bpeIterSql(i: Int, prev: String): String =
    s"""p$i AS (SELECT freq, pr[1] AS a, pr[2] AS b
         FROM (SELECT freq, unnest(list_zip(els,
             list_slice(els, 2, len(els)))) AS pr
           FROM (SELECT freq, string_split(s, ' ') AS els FROM $prev))
         WHERE pr[2] IS NOT NULL),
       b$i AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt,
           '<' || substr(a, 2, len(a) - 2) || substr(b, 2, len(b) - 2)
             || '>' AS m
         FROM p$i GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
       seg$i AS (SELECT freq,
           replace(s, (SELECT a || ' ' || b FROM b$i),
             (SELECT m FROM b$i)) AS s
         FROM $prev),
       n$i AS (SELECT CAST(sum(freq * len(string_split(s, ' ')))
           AS BIGINT) AS syms FROM seg$i)"""

  private def bpeRankSql(i: Int): String =
    s"""SELECT CAST($i AS BIGINT) AS merge_rank,
        substr(a, 2, len(a) - 2) AS left_sym,
        substr(b, 2, len(b) - 2) AS right_sym, cnt,
        (SELECT syms FROM n$i) AS syms_after FROM b$i"""

  /** One unrolled word-carrying BPE iteration for the q131 oracle —
    * the same argmax as [[bpeIterSql]] but the segmentation keeps the
    * `word` key so the final table can join back to the corpus. */
  private def encIterSql(i: Int, prev: String): String =
    s"""pe$i AS (SELECT freq, pr[1] AS a, pr[2] AS b
         FROM (SELECT freq, unnest(list_zip(els,
             list_slice(els, 2, len(els)))) AS pr
           FROM (SELECT freq, string_split(s, ' ') AS els FROM $prev))
         WHERE pr[2] IS NOT NULL),
       be$i AS (SELECT a, b,
           '<' || substr(a, 2, len(a) - 2) || substr(b, 2, len(b) - 2)
             || '>' AS m
         FROM (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
           FROM pe$i GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)),
       segw$i AS (SELECT word, freq,
           replace(s, (SELECT a || ' ' || b FROM be$i),
             (SELECT m FROM be$i)) AS s
         FROM $prev)"""

  val oracles: Map[String, String] = Map(
    "q131_bpe_encode" ->
      s"""WITH vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(${TextFns.sqlTokens("text")}) AS word
             FROM documents)
           WHERE regexp_full_match(word, '[a-z]+') GROUP BY word),
         segw0 AS (SELECT word, freq, array_to_string(
             list_transform(string_split(word, ''), c -> '<' || c || '>'),
             ' ') AS s
           FROM vocab),
         ${encIterSql(1, "segw0")},
         ${encIterSql(2, "segw1")},
         ${encIterSql(3, "segw2")},
         ${encIterSql(4, "segw3")},
         wtok AS (SELECT word,
             CAST(len(string_split(s, ' ')) AS BIGINT) AS n_syms,
             CAST(len(word) AS BIGINT) AS n_chars_w
           FROM segw4),
         dw AS (SELECT doc_id, word FROM
           (SELECT doc_id, unnest(${TextFns.sqlTokens("text")}) AS word
            FROM documents)
           WHERE regexp_full_match(word, '[a-z]+')),
         per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(w.n_chars_w) AS BIGINT) AS n_chars,
             CAST(sum(w.n_syms) AS BIGINT) AS n_bpe_tokens
           FROM dw JOIN wtok w USING (word) GROUP BY doc_id)
         SELECT doc_id, n_words, n_chars, n_bpe_tokens,
           n_bpe_tokens * 1000 // n_chars AS ratio_milli
         FROM per ORDER BY doc_id""",
    "q119_bpe_merges" ->
      s"""WITH vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(${TextFns.sqlTokens("text")}) AS word
             FROM documents)
           WHERE regexp_full_match(word, '[a-z]+') GROUP BY word),
         seg0 AS (SELECT freq, array_to_string(
             list_transform(string_split(word, ''), c -> '<' || c || '>'),
             ' ') AS s
           FROM vocab),
         ${bpeIterSql(1, "seg0")},
         ${bpeIterSql(2, "seg1")},
         ${bpeIterSql(3, "seg2")},
         ${bpeIterSql(4, "seg3")}
         SELECT * FROM (
           ${bpeRankSql(1)} UNION ALL ${bpeRankSql(2)} UNION ALL
           ${bpeRankSql(3)} UNION ALL ${bpeRankSql(4)})
         ORDER BY merge_rank""",
    "q84_formula_entities" ->
      s"""WITH words AS (SELECT doc_id,
           unnest(string_split_regex(text, '[\\s+|\\n]|–')) AS raw
           FROM documents),
         mapped AS (SELECT doc_id, $injectSql AS w FROM words),
         -- hand-derived acceptances of the closed candidate set (each
         -- justified from the battery rules; see WordClassifier +
         -- FormulaSpec): the three veto probes are absent
         formulas(w) AS (VALUES $formulasSql),
         tf AS (SELECT w AS entity, doc_id, count(*) AS tf
           FROM mapped JOIN formulas USING (w) GROUP BY 1, 2)
         SELECT dense_rank() OVER (ORDER BY entity) AS entity_id,
           entity, doc_id, tf
         FROM tf ORDER BY entity, doc_id""",
    "q85_doi_stitch" ->
      """SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN '10.5291/ILL-DATA.' || (doc_id % 9 + 1) || '-' ||
             (doc_id % 20 + 10) || '-' || (doc_id % 999 + 1)
           WHEN 1 THEN '10.5291/ILL-DATA' || (doc_id % 9 + 1) || '-' ||
             (doc_id % 20 + 10) || '-' || (doc_id % 999 + 1)
           WHEN 2 THEN '10.' || (1000 + doc_id % 9000) || '/x' ||
             (doc_id % 999 + 1)
           ELSE '10.5291/ILL'
         END AS doi
         FROM documents ORDER BY doc_id, doi""",
    "q89_rake_keywords" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS t FROM documents),
         tok0 AS (SELECT doc_id, unnest(list_transform(t, (x, i) ->
             struct_pack(pos := i - 1, w := x))) AS u FROM toks),
         acc AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM tok0
           WHERE u.w NOT IN (${rakeStop.map(w => s"'$w'").mkString(", ")})
             AND regexp_matches(u.w, '^[a-z]+$$')),
         grps AS (SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM acc),
         runs0 AS (SELECT doc_id, grp, list(w ORDER BY pos) AS ws
           FROM grps GROUP BY doc_id, grp),
         runsp AS (SELECT doc_id,
             CASE WHEN len(ws) <= 2 THEN ws ELSE ws[-2:] END AS pwords,
             len(CASE WHEN len(ws) <= 2 THEN ws ELSE ws[-2:] END) AS plen
           FROM runs0),
         wordocc AS (SELECT doc_id, unnest(pwords) AS w, plen - 1 AS deg_extra
           FROM runsp),
         scores AS (SELECT doc_id, w,
             CAST((count(*) + sum(deg_extra)) * 1000000 // count(*) AS BIGINT)
               AS score_micro
           FROM wordocc GROUP BY doc_id, w),
         phr AS (SELECT DISTINCT doc_id, array_to_string(pwords, ' ') AS phrase
           FROM runsp),
         pw AS (SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w
           FROM phr),
         ps AS (SELECT pw.doc_id, pw.phrase,
             CAST(sum(s.score_micro) AS BIGINT) AS score_micro
           FROM pw JOIN scores s ON s.doc_id = pw.doc_id AND s.w = pw.w
           GROUP BY pw.doc_id, pw.phrase),
         ranked AS (SELECT *, rank() OVER (PARTITION BY doc_id
           ORDER BY score_micro DESC, phrase) AS rnk FROM ps)
         SELECT doc_id, phrase, score_micro, rnk FROM ranked
         WHERE rnk <= 3 ORDER BY doc_id, rnk, phrase""",
    "q87_word_spec" -> {
      val lem = SuffixLemmatizer.sqlLemma("word")
      s"""WITH nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         freq(word, frequency) AS (VALUES $wordFreqSql),
         eng AS (SELECT lemma,
             CAST(round(ln(CAST(n_docs AS DOUBLE) /
               (eng_raw / greatest(CAST($englishDocCount AS BIGINT) // n_docs, 1))) * 1000)
               AS BIGINT) AS eng_idf_milli
           FROM (SELECT $lem AS lemma, CAST(sum(frequency) AS BIGINT) AS eng_raw
                 FROM freq WHERE length(word) > 1 GROUP BY 1), nd),
         toks AS (SELECT doc_id, ${TextFns.sqlTokens("text")} AS t FROM documents),
         tok0 AS (SELECT doc_id, len(t) + 1 AS doc_len,
             unnest(list_transform(t, (x, i) ->
               struct_pack(pos := i - 1, word := x))) AS u
           FROM toks),
         tok AS (SELECT doc_id, doc_len, pos, $lem AS lemma
           FROM (SELECT doc_id, doc_len, u.pos AS pos, u.word AS word
                 FROM tok0)
           WHERE ${SuffixPosTagger.sqlTag("word")} IN
             (${SuffixPosTagger.allowed.map(t => s"'$t'").mkString(", ")})
             AND length($lem) >= 4),
         pcc AS (SELECT lemma, count(DISTINCT doc_id) AS pcc_df
           FROM tok GROUP BY lemma HAVING count(DISTINCT doc_id) > $minPccFrequency),
         pcc2 AS (SELECT lemma,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / pcc_df) * 1000) AS BIGINT)
               AS pcc_idf_milli
           FROM pcc, nd),
         spec AS (SELECT DISTINCT t.doc_id, t.lemma,
             e.eng_idf_milli - p.pcc_idf_milli AS distance_milli
           FROM tok t
           JOIN pcc2 p USING (lemma)
           JOIN eng e USING (lemma)
           WHERE (t.pos + 1) * 100 <= t.doc_len * 33
             AND e.eng_idf_milli - p.pcc_idf_milli >= $minDistanceMilli)
         SELECT doc_id, count(*) AS n_lemmas,
           CAST(sum(distance_milli) AS BIGINT) AS total_distance_milli,
           array_to_string(list_sort(list(lemma)), ',') AS lemmas
         FROM spec GROUP BY doc_id ORDER BY doc_id"""
    })
}
