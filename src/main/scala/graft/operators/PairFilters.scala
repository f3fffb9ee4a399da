package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filters over candidate match pairs `(doc1, doc2, ...)`.
  *
  * Reference semantics: `matching/filter/TypeFilter.scala:23-43`,
  * `DateFilter.scala:27-75`, `DocumentVersionIdFilter.scala:22-35`,
  * `MultipleTypeMatchFilter.scala:23-41`. All are implemented as
  * broadcast dim joins + column predicates or semi joins — never the
  * reference's inner-join-then-drop emulation, which duplicates rows
  * when the dim is not unique and shuffles the big side twice.
  */
object PairFilters {

  /** Attach a per-document attribute to both sides of a pair frame.
    * `dim` must be (doc_id, <attr>); broadcast — document dims are
    * small relative to the pair table even at 100 TB (dims scale with
    * documents, pairs scale quadratically). */
  def joinBothSides(pairs: DataFrame, dim: DataFrame, attr: String): DataFrame = {
    val d1 = dim.select(col("doc_id").as("doc1"), col(attr).as(s"${attr}_1"))
    val d2 = dim.select(col("doc_id").as("doc2"), col(attr).as(s"${attr}_2"))
    pairs.join(broadcast(d1), Seq("doc1")).join(broadcast(d2), Seq("doc2"))
  }

  /** P1 TypeFilter: keep pairs linking a "proposal-like" doc to a
    * non-proposal doc (either orientation), per the reference's
    * `startsWith("PROPOSAL") && !startsWith(...)` predicate. */
  def typeFilter(pairs: DataFrame, types: DataFrame,
                 isProposal: Column => Column): DataFrame = {
    val p = joinBothSides(pairs, types, "doc_type")
    val l = isProposal(col("doc_type_1"))
    val r = isProposal(col("doc_type_2"))
    p.filter((l && !r) || (r && !l))
  }

  /** P2 DateFilter: proposal year must not be after publication year.
    * `dates` = (doc_id, doc_date); pure `year()` column predicate — the
    * reference used a row-level FilterFunction on Timestamp, which
    * defeats codegen for no semantic gain. */
  def dateFilter(pairs: DataFrame, dates: DataFrame): DataFrame =
    joinBothSides(pairs, dates, "doc_date")
      .filter(year(col("doc_date_1")) <= year(col("doc_date_2")))

  /** P5 MultipleTypeMatchFilter: keep a pair iff matched by >= 2 score
    * types, or by a whitelisted type. `matches` has (doc1, doc2,
    * score_type); returns one row per surviving pair with its sorted
    * type list.
    *
    * Deliberately NOT `countDistinct` + `collect_set`: the distinct
    * aggregate adds an EXPAND (doubling the input) and collect_set is
    * an ObjectHashAggregate that falls back to sort-based aggregation
    * once a task sees >128 groups — over a pair table whose keys are
    * nearly all unique that meant sorting the whole table (measured
    * 473 s vs 11 s at sf0.1). Instead the bounded score-type dimension
    * (~dozens even in the reference: 18 entity types) is collected
    * driver-side and unrolled into one `max(when(...))` flag per type —
    * a plain codegen'd HashAggregate; `concat_ws` skips the null flags
    * to rebuild the sorted type list. */
  def multiTypeFilter(matches: DataFrame, whitelist: Seq[String],
                      knownTypes: Option[Seq[String]] = None): DataFrame = {
    // callers that know their score-type dimension pass it and skip a
    // full discovery pass over the pair table
    val typeNames = knownTypes.map(_.sorted.toArray).getOrElse(
      matches.select("score_type").distinct()
        .collect().map(_.getString(0)).sorted)
    val flags = typeNames.zipWithIndex.map { case (t, i) =>
      max(when(col("score_type") === t, lit(1L))).as(s"_has_$i")
    }
    val nTypes = typeNames.indices
      .map(i => coalesce(col(s"_has_$i"), lit(0L)))
      .reduce(_ + _)
    val typeList = concat_ws(",", typeNames.zipWithIndex.map { case (t, i) =>
      when(col(s"_has_$i") === 1L, lit(t))
    }: _*)
    val whitelisted = typeNames.zipWithIndex
      .filter { case (t, _) => whitelist.contains(t) }
      .map { case (_, i) => col(s"_has_$i") === 1L }
      .foldLeft(lit(false))(_ || _)
    matches
      .groupBy("doc1", "doc2")
      .agg(flags.head, flags.tail: _*)
      .withColumn("n_types", nTypes)
      .withColumn("types", typeList)
      .filter(col("n_types") > 1 || whitelisted)
      .drop(typeNames.indices.map(i => s"_has_$i"): _*)
  }
}
