package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Shared

/** The family-clustered sweep order + scheduler-informed release plan
  * (round 15): the round-14 sf10 run priced what happens without them
  * — 101 evictions, 2.54× like-for-like — because the alphabetical
  * order scattered each memo family's consumers and nothing knew
  * which families were already dead. */
class SweepOrderSpec extends AnyFunSuite {
  import SweepOrder.{Family, families}

  test("match-family consumers are contiguous in the clustered order") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    val matchQs = families.filter(_.group == SweepOrder.Match)
      .flatMap(_.consumers).toSet
    val idxs = ordered.zipWithIndex.collect {
      case (n, i) if matchQs(n) => i
    }
    assert(idxs.nonEmpty)
    assert(idxs.max - idxs.min === idxs.size - 1,
      s"match-family consumers not contiguous: $idxs")
  }

  test("every declared consumer sits in its family's group") {
    // the group derives from the family rows: a family's consumers run
    // in one cluster, so its release point and its staged warm agree
    families.foreach { f =>
      val groups = f.consumers.toSeq.sorted.map(q => q -> SweepOrder.group(q))
      assert(groups.map(_._2).distinct === Seq(f.group),
        s"consumers of '${f.prefix}' are not all in group ${f.group}: $groups")
    }
  }

  test("every declared memo consumer is a real query name") {
    val known = SparkEntry.queries.keySet
    val ghosts = families.flatMap(_.consumers).toSet -- known
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
    // fall out of the family rows' consumers and parents — no literal ids.
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

  /** (family, parent) pairs breaking the lazy-build rule: a family the
    * staged warm does not build must declare no consumer its parent
    * lacks, or a schedule may release the parent before the family's
    * first consumer builds it (and so rebuilds the parent). */
  private def unsafeLazyFamilies(fams: Seq[Family],
                                 warmed: Set[String]): Seq[(String, String)] = {
    val consumers = fams.map(f => f.prefix -> f.consumers).toMap
    fams.sortBy(_.prefix).flatMap { f =>
      if (warmed.exists(_.startsWith(f.prefix))) Nil
      else f.parents.filterNot(p => f.consumers.subsetOf(consumers(p)))
        .map(f.prefix -> _)
    }
  }

  test("a family built at its first consumer is never outlived by a " +
      "parent's release") {
    import TestSpark._
    // the exempt set is what the staged warm really builds
    val warmed = (0 to 2).filter(Shared.warmable).flatMap { g =>
      Shared.clear()
      Shared.warmGroup(spark, sf, g)
      Shared.buildRecord(spark, sf).map(_.key)
    }.toSet
    Shared.clear()
    assert(warmed.contains("pairScores2") && !warmed.contains("k3walk"),
      s"unexpected staged warm: $warmed")
    assert(unsafeLazyFamilies(families, warmed).isEmpty)
    // the rule bites: without the k-chain consumers on pairScores2 a
    // subset sweep would release it before q159/q199 build from it
    val reverted = families.map { f =>
      if (f.prefix != "pairScores2") f
      else f.copy(consumers = Set("q20_weight_grid", "q72_weight_refine"))
    }
    assert(unsafeLazyFamilies(reverted, warmed).toSet ===
      Set("pairScores3" -> "pairScores2", "pairScores6" -> "pairScores2"))
  }

  test("every family row names declared parents and a disjoint prefix") {
    val prefixes = families.map(_.prefix)
    assert(prefixes.distinct === prefixes, "a family is declared twice")
    val undeclared = families.flatMap(_.parents).toSet -- prefixes
    assert(undeclared.isEmpty, s"parents name undeclared families: $undeclared")
    // releaseMemo(p) drops every key starting with p: a prefix that
    // starts another family's would release that live sibling too
    val clashes = for (a <- prefixes; b <- prefixes
      if a != b && b.startsWith(a)) yield s"$a < $b"
    assert(clashes.isEmpty, s"family prefixes overlap: $clashes")
  }

  test("clustered order is a permutation of its input") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    assert(ordered.sorted === names)
  }
}
