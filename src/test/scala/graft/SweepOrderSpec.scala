package graft

import org.scalatest.funsuite.AnyFunSuite

/** The family-clustered sweep order + scheduler-informed release plan
  * (round 15): the round-14 sf10 run priced what happens without them
  * — 101 evictions, 2.54× like-for-like — because the alphabetical
  * order scattered each memo family's consumers and the byte budget
  * had no knowledge of which families were already dead. */
class SweepOrderSpec extends AnyFunSuite {

  test("match-family consumers are contiguous in the clustered order") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    val matchQs = SweepOrder.memoConsumers("partScores") ++
      SweepOrder.memoConsumers("pivotedScores") ++
      SweepOrder.memoConsumers("pairScores2") ++
      SweepOrder.memoConsumers("pairScores3") ++
      SweepOrder.memoConsumers("pairScores6") ++
      SweepOrder.memoConsumers("k3walk") ++
      SweepOrder.memoConsumers("k6walk") ++
      SweepOrder.memoConsumers("partCands")
    val idxs = ordered.zipWithIndex.collect {
      case (n, i) if matchQs(n) => i
    }
    assert(idxs.nonEmpty)
    assert(idxs.max - idxs.min === idxs.size - 1,
      s"match-family consumers not contiguous: $idxs")
  }

  test("every declared consumer sits in its family's group") {
    // the group derives from memoConsumers: a family's consumers run in
    // one cluster, so its release point and its staged warm agree
    SweepOrder.memoConsumers.foreach { case (fam, qs) =>
      val groups = qs.toSeq.sorted.map(q => q -> SweepOrder.group(q))
      assert(groups.map(_._2).distinct.size === 1 && groups.head._2 < 4,
        s"consumers of '$fam' are not in one memo group: $groups")
    }
  }

  test("every declared memo consumer is a real query name") {
    val known = SparkEntry.queries.keySet
    val ghosts = SweepOrder.memoConsumers.values.flatten.toSet -- known
    assert(ghosts.isEmpty, s"consumer map names unknown queries: $ghosts")
  }

  test("releaseSchedule puts each family at its LAST consumer's index") {
    val order = Seq("q13_entity_candidates", "q14_entity_scores",
      "q94_matcher_pipeline", "q29_cosine_shingles")
    val sched = SweepOrder.releaseSchedule(order)
    assert(sched(0).contains("partCands"))       // only consumer: q13
    assert(sched(2).contains("partScores"))      // last of q14/q94
    assert(sched(2).contains("partSuppScores"))  // last: q94
    assert(sched(3) === Seq("cosineWeights"))
    // families with no consumer in the order are never scheduled
    assert(!sched.values.flatten.toSeq.contains("dupPairs"))
  }

  test("key is total: names not shaped q<digits> sort into the tail group") {
    // a harness sorting a mixed name list (e.g. cache_build alongside
    // queries) must not crash on "".toInt (ADVICE r15)
    assert(SweepOrder.key("cache_build") === ((4, 1, 0, Int.MaxValue)))
    assert(SweepOrder.key("") === ((4, 1, 0, Int.MaxValue)))
    assert(SweepOrder.key("q") === ((4, 1, 0, Int.MaxValue)))
    // q13 is partCands' sole consumer → an opener (flag 0, depth 0)
    assert(SweepOrder.key("q13_entity_candidates") === ((0, 0, 0, 13)))
    assert(SweepOrder.key("q14_entity_scores") === ((0, 1, 0, 14)))
  }

  test("sole-consumer openers are DERIVED: q19 opens the match cluster " +
      "by chain depth, not by a hard-coded id (VERDICT r16)") {
    // the rule: a query that is the only consumer of a memo family
    // opens its cluster (release-early), deepest derivation chain
    // first. q19/pivotedScores (depth 2) and q13/partCands (depth 0)
    // fall out of memoConsumers + Shared.derivedFrom — no literal ids.
    assert(SweepOrder.openerDepth("q19_score_pivot") === 2)
    assert(SweepOrder.openerDepth("q13_entity_candidates") === 0)
    assert(!SweepOrder.openerDepth.contains("q14_entity_scores"),
      "q14 shares partScores with eight other consumers — not an opener")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    assert(ordered.take(2) === Seq("q19_score_pivot", "q13_entity_candidates"))
    // and the release schedule drops the big frames right there
    val sched = SweepOrder.releaseSchedule(ordered)
    assert(sched(0) === Seq("pivotedScores"))
    assert(sched(1) === Seq("partCands"))
    // the vector cluster gets the same treatment for free: its
    // sole-consumer queries lead it (q29/cosineWeights, then
    // q57/mlMinhashTf and q163/mmrCands+mmrSims in numeric order)
    val vec = ordered.filter(n => SweepOrder.group(n) == 2)
    assert(vec.take(3) === Seq("q29_cosine_shingles", "q57_ml_minhash",
      "q163_mmr_rerank"))
  }

  test("clustered order covers exactly the input and reverse respects it") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    assert(ordered.sorted === names)
  }
}
