package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EntityMatching
import graft.operators.EntityMatching.Config

/** The one-scan candidate operator against the join-based spelling it
  * replaced (kept below as the reference), on a fixture that reaches
  * every guard boundary, and the plan shape of the match-chain build. */
class EntityMatchingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import spark.implicits._

  /** The former `candidatePairs`: every statistic its own aggregate,
    * joined back on its key. */
  private def joinBased(entities: DataFrame, cfg: Config): DataFrame = {
    val nDocs = entities.agg(countDistinct("doc_id").as("n_docs"))
    val rawFreq = entities.groupBy("entity_id").agg(count(lit(1)).as("raw_freq"))
    val guarded = (cfg.safeModeFraction, cfg.maxOccurrence) match {
      case (None, None) => entities
      case (frac, cap) =>
        val keep = rawFreq
          .crossJoin(broadcast(nDocs))
          .filter(
            frac.map(f => col("raw_freq") < col("n_docs") * f).getOrElse(lit(true)) &&
            cap.map(c => col("raw_freq") <= c).getOrElse(lit(true)))
          .select("entity_id")
        entities.join(keep, Seq("entity_id"), "left_semi")
    }
    val tf = guarded.groupBy("doc_id", "entity_id").agg(count(lit(1)).as("tf"))
    val docCounts = guarded.groupBy("doc_id").agg(count(lit(1)).as("doc_entity_count"))
    val idf = tf.groupBy("entity_id").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_micro",
        round(log10(col("n_docs").cast("double") / col("df")) * 1e6).cast("long"))
      .select("entity_id", "idf_micro")
    val postings = tf.join(docCounts, "doc_id")
    val a = postings.select(col("entity_id"), col("doc_id").as("doc1"),
      col("tf").as("tf1"), col("doc_entity_count").as("cnt1"))
    val b = postings.select(col("entity_id"), col("doc_id").as("doc2"),
      col("tf").as("tf2"), col("doc_entity_count").as("cnt2"))
    a.join(b, Seq("entity_id"))
      .filter(col("doc1") < col("doc2"))
      .join(idf, Seq("entity_id"))
  }

  /** 100 documents, so the safe-mode bound n_docs/20 is 5. Each of docs
    * 1–99 holds a singleton filler entity; doc 100 only a null entity.
    * Entity 1 sits at the bound (raw frequency 5), entity 2 just below
    * it (4); entity 3 has tf 2 in doc 1; doc 6 also holds a null
    * entity. */
  private def fixture: DataFrame = {
    val rows = (1 to 99).map(d => (d.toLong, Option(5000L + d))) ++
      (1 to 5).map(d => (d.toLong, Option(1L))) ++
      (1 to 4).map(d => (d.toLong, Option(2L))) ++
      Seq(1L, 1L, 2L).map(d => (d, Option(3L))) ++
      Seq(2L, 3L).map(d => (d, Option(4L))) ++
      Seq((6L, None), (100L, None))
    rows.toDF("doc_id", "entity_id")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def cols(df: DataFrame, names: Seq[String]): Seq[Row] =
    rows(df.select(names.map(col): _*))

  private val candCols = Schemas.candidatePairs.fieldNames.toSeq

  /** The executed physical plan, after AQE's last re-plan. */
  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }

  test("candidatePairs equals the join-based spelling at every guard " +
      "boundary, tf > 1 and a null entity included") {
    val ents = fixture
    for (cfg <- Seq(Config(), Config(maxOccurrence = Some(3L)),
                    Config(safeModeFraction = None, maxOccurrence = Some(4L)))) {
      val got = EntityMatching.candidatePairs(ents, cfg)
      assert(got.columns.toSeq === candCols)
      val want = cols(joinBased(ents, cfg), candCols)
      assert(rows(got) === want, s"config $cfg")
      assert(want.nonEmpty)
    }
    // the boundary cases really are in the data: entity 1 (at n/20)
    // is cut by safe mode, entity 2 (below it) survives it, the cap
    // cuts entity 2, and entity 3 pairs with tf 2 on one side
    val dflt = rows(EntityMatching.candidatePairs(ents).select("entity_id"))
      .map(_.getLong(0)).toSet
    assert(dflt === Set(2L, 3L, 4L))
    val capped = rows(EntityMatching.candidatePairs(ents,
      Config(maxOccurrence = Some(3L))).select("entity_id")).map(_.getLong(0)).toSet
    assert(capped === Set(3L, 4L))
    val e3 = rows(EntityMatching.candidatePairs(ents)
      .filter(col("entity_id") === 3L).select("tf1", "tf2"))
    assert(e3 === Seq(Row(2L, 1L)))
  }

  test("tagged candidatePairs and scoreTypedPairs equal the per-tag runs " +
      "unioned with their tag") {
    // tag b sees fewer documents, so its N (and every idf) differs
    val a = fixture.withColumn("score_type", lit("a"))
    val b = fixture.filter(col("doc_id") <= 60).withColumn("score_type", lit("b"))
    val tagged = EntityMatching.candidatePairs(a.unionByName(b),
      by = Seq("score_type"))
    assert(tagged.columns.toSeq === "score_type" +: candCols)
    val perTag = Seq("a" -> a, "b" -> b).map { case (t, e) =>
      EntityMatching.candidatePairs(e.drop("score_type"))
        .select(lit(t).as("score_type") +: candCols.map(col): _*)
    }.reduce(_ unionByName _)
    assert(rows(tagged) === rows(perTag))
    val scored = EntityMatching.scoreTypedPairs(tagged)
    val scoredPerTag = Seq("a", "b").map { t =>
      EntityMatching.scorePairs(
        perTag.filter(col("score_type") === t).drop("score_type"), t)
    }.reduce(_ unionByName _)
    Schemas.validate(scored, Schemas.matchScores, "typed scores")
    assert(rows(scored) === rows(scoredPerTag))
  }

  test("the untagged operator keeps the perfbench probe's calls and schema") {
    val ents = Tables.lineitem(spark, sf).select(
      col("l_orderkey").as("doc_id"), col("l_partkey").as("entity_id"))
    val cands = EntityMatching.candidatePairs(ents)
    Schemas.validate(cands, Schemas.candidatePairs, "cands")
    Schemas.validate(EntityMatching.scorePairs(cands, "part_overlap"),
      Schemas.matchScores, "scores")
  }

  test("the match-candidate build scans lineitem once, with at most " +
      "five shuffles") {
    // both entity types share the scan and every shuffle (tf by
    // entity, N, postings by doc, the self-join); one chain per type
    // would scan lineitem once per statistic and type
    val plan = executed(queries.MatchingQueries.matchCands.build(spark, sf, ()))
    val scans = collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.getName == "lineitem.parquet") => s
    }
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(scans.size === 1, s"lineitem scans:\n$plan")
    assert(shuffles.size <= 5, s"${shuffles.size} shuffles:\n$plan")
  }

  test("matchScores: (doc1, doc2, score_type) is unique and doc1 < doc2, " +
      "so q44 is its projection") {
    queries.Shared.clear()
    val scores = queries.MatchingQueries.matchScores(spark, sf)
    val n = scores.count()
    assert(n > 0)
    assert(scores.select("doc1", "doc2", "score_type").distinct().count() === n)
    assert(scores.filter(col("doc1") >= col("doc2")).count() === 0L)
    // q44's former spelling: the rows unioned with their mirror, one
    // group per (least, greatest, type)
    val part = scores.filter(col("score_type") === "part_overlap")
    val grouped = part.unionByName(part.select(
        col("doc2").as("doc1"), col("doc1").as("doc2"),
        col("score_type"), col("item_count"), col("score")))
      .select(least(col("doc1"), col("doc2")).as("pair_lo"),
        greatest(col("doc1"), col("doc2")).as("pair_hi"),
        col("score_type"), col("item_count"), col("score"))
      .groupBy("pair_lo", "pair_hi", "score_type")
      .agg(count(lit(1)).as("n_directions"),
        sum("item_count").as("total_items"), max("score").as("score"))
      .orderBy("pair_lo", "pair_hi")
    val q44 = SparkEntry.queries("q44_pair_dedup")(spark, sf)
    assert(q44.columns.toSeq === grouped.columns.toSeq)
    assert(q44.collect().toSeq === grouped.collect().toSeq)
    queries.Shared.clear()
  }

  test("q19's pivot reads the doc1 layout of the score cache in place, " +
      "with no hash exchange") {
    // matchScores keeps matchCands' doc1 hash layout, so the (doc1,
    // doc2) pivot groups without an exchange; only q19's output sort
    // shuffles (by range)
    queries.Shared.clear()
    val plan = executed(SparkEntry.queries("q19_score_pivot")(spark, sf))
    // collect does not descend into a cached relation's own build plan
    val hashed = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning
        .isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.isEmpty, s"q19 re-shuffles:\n$plan")
    assert(collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty,
      s"q19 must read the score cache:\n$plan")
    queries.Shared.clear()
  }
}
