package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Exact

/** TF-IDF entity-overlap candidate generation and scoring.
  *
  * Semantics follow the reference's inverted-index matcher and scorer
  * (`matching/matcher/EntitiesMatcherV2.scala:38-101`,
  * `matching/scorer/EntitiesScorer.scala:38-79`): documents sharing an
  * entity become candidate pairs; each shared entity contributes
  * `(tf1 + tf2) * idf` with `idf = log10(N / df)`; pair score is
  * `sum * (1 + scoreFactor * teamFactor)` with
  * `teamFactor = n_shared * (0.5/count1 + 0.5/count2)`.
  *
  * The *implementation* is deliberately not the reference's: instead of
  * `groupBy(collect_list(struct))` followed by `explode` on both join
  * sides (which materialises postings arrays only to immediately
  * re-flatten them), the postings stay one flat relation. Every
  * per-entity statistic (tf, raw frequency, df, the guards, idf) is a
  * window over ONE entity-partitioned tf frame and the per-document
  * entity count a window over the same rows re-partitioned by
  * document, so the input is scanned once and each key is shuffled
  * once before the self-join on `entity_id`. Skew is bounded by the
  * frequency guards, which are *semantic* (the reference applies them
  * too, `EntitiesMatcherV2.scala:45-53`): a hot entity shared by f docs
  * would otherwise emit f² pairs.
  *
  * Optional tag columns (`by`) match several entity types in one plan:
  * each tag is matched on its own, exactly as if the input were split
  * per tag and each part run untagged, the tag columns leading the
  * output.
  *
  * IDF is quantized to integer micro-units (`idf_micro`) so pair-score
  * sums are exact integers — see [[graft.functions.Exact]].
  */
object EntityMatching {

  /** Frequency guards + score factor (reference defaults:
    * safe-mode fraction 1/20, scoreFactor from config). */
  final case class Config(
      safeModeFraction: Option[Double] = Some(1.0 / 20),
      maxOccurrence: Option[Long] = None,
      minSharedEntities: Long = 1L,
      scoreFactor: Double = 10.0)

  /** Candidate pairs with per-entity TF-IDF contributions. Input
    * columns: doc_id, entity_id (duplicate rows are the term count, as
    * in the reference) and the `by` tags; a row with a null entity is
    * no entity and counts only towards N.
    *
    * Output: the `by` columns, entity_id, doc1, doc2 (doc1 < doc2), tf1,
    * tf2, cnt1, cnt2, idf_micro (= round(log10(N/df)*1e6), exact
    * integer); untagged, exactly [[graft.Schemas.candidatePairs]].
    */
  def candidatePairs(entities: DataFrame, cfg: Config = Config(),
                     by: Seq[String] = Nil): DataFrame = {
    val entityKey = (by :+ "entity_id").map(col)
    // the one shuffle on the entity key: the tf roll-up groups by a
    // superset of it and the entity windows by it, both in place
    val tf = entities.repartition(entityKey: _*)
      .groupBy(entityKey :+ col("doc_id"): _*)
      .agg(count(lit(1)).as("tf"))
    // N = distinct documents per tag, as a broadcast frame (lazy, no
    // driver-side action)
    val nDocs = tf.groupBy(by.map(col): _*)
      .agg(countDistinct("doc_id").as("n_docs"))

    // Safe-mode / cap guards count raw rows per entity (reference
    // counts duplicates too, EntitiesMatcherV2.scala:46-50); df =
    // distinct docs per entity (0 for the null entity), idf =
    // log10(N/df), micro-quantized. The guards filter on window
    // outputs only, so no predicate is pushed under the shared tf
    // frame and the N branch keeps reading the same shuffle.
    val perEntity = Window.partitionBy(entityKey: _*)
    val keep = col("df") > 0 &&
      cfg.safeModeFraction.fold(lit(true))(f => col("raw_freq") < col("n_docs") * f) &&
      cfg.maxOccurrence.fold(lit(true))(c => col("raw_freq") <= c)
    val postings = tf
      .withColumn("raw_freq", sum("tf").over(perEntity))
      .withColumn("df", count("entity_id").over(perEntity))
      .join(broadcast(nDocs), by)
      .filter(keep)
      .withColumn("idf_micro",
        round(log10(col("n_docs").cast("double") / col("df")) * 1e6).cast("long"))
      .withColumn("doc_entity_count",
        sum("tf").over(Window.partitionBy((by :+ "doc_id").map(col): _*)))

    // idf_micro is a function of the entity, so keying the self-join
    // on it too changes no pair, and it makes both sides the same
    // plan: they read ONE shuffle of the postings
    def side(i: Int) = postings.select(entityKey ++ Seq(col("idf_micro"),
      col("doc_id").as(s"doc$i"), col("tf").as(s"tf$i"),
      col("doc_entity_count").as(s"cnt$i")): _*)
    side(1).join(side(2), by ++ Seq("entity_id", "idf_micro"))
      .filter(col("doc1") < col("doc2"))
      .select((by ++ Seq("entity_id", "doc1", "doc2", "tf1", "tf2", "cnt1",
        "cnt2", "idf_micro")).map(col): _*)
  }

  /** Roll candidate pairs up to scored matches (reference
    * `EntitiesScorer.score`). Output: doc1, doc2, score_type,
    * item_count, score (double, 6-dp rounded from an exact micro sum). */
  def scorePairs(cands: DataFrame, scoreType: String,
                 cfg: Config = Config()): DataFrame =
    rollUp(cands, Nil, cfg).withColumn("score_type", lit(scoreType))
      .select("doc1", "doc2", "score_type", "item_count", "score")

  /** [[scorePairs]] over candidates tagged with their score type
    * (`candidatePairs(by = Seq("score_type"))`), each type scored on
    * its own. */
  def scoreTypedPairs(cands: DataFrame, cfg: Config = Config()): DataFrame =
    rollUp(cands, Seq("score_type"), cfg)
      .select("doc1", "doc2", "score_type", "item_count", "score")

  private def rollUp(cands: DataFrame, by: Seq[String], cfg: Config): DataFrame = {
    // cnt1/cnt2 are functionally dependent on doc1/doc2 — aggregating
    // them (instead of grouping by them too) keeps the grouping keys a
    // superset of doc1, so the roll-up runs exchange-free off a
    // doc1-partitioned candidate cache and its output keeps that layout
    // (HashPartitioning on a grouping-key subset satisfies the
    // clustering; the other way around it would not).
    val rolled = cands
      .groupBy((Seq("doc1", "doc2") ++ by).map(col): _*)
      .agg(
        max("cnt1").as("cnt1"),
        max("cnt2").as("cnt2"),
        sum((col("tf1") + col("tf2")) * col("idf_micro")).as("sum_micro"),
        count(lit(1)).as("item_count"))
      .filter(col("item_count") >= cfg.minSharedEntities)
    rolled
      .withColumn("team_factor",
        col("item_count") * (lit(0.5) / col("cnt1") + lit(0.5) / col("cnt2")))
      .withColumn("score", Exact.r6(
        (col("sum_micro") / 1e6) * (lit(1.0) + lit(cfg.scoreFactor) * col("team_factor"))))
  }
}
