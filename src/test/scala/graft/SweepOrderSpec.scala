package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
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
    assert(sched(0).contains("matchCands"))      // only consumer: q13
    assert(sched(2).contains("matchScores"))     // last of q14/q94
    assert(sched(3) === Seq("cosineWeights"))
    // families with no consumer in the order are never scheduled
    assert(!sched.values.flatten.toSeq.contains("dupPairs"))
  }

  test("an unwarmed schedule holds a family until the last reader of " +
      "anything built from it") {
    val order = Seq("q13_entity_candidates", "q14_entity_scores",
      "q20_weight_grid")
    // warmed: matchScores and pairScores2 exist before q14/q20 run
    val warmed = SweepOrder.releaseSchedule(order)
    assert(warmed(0) === Seq("matchCands"))
    assert(warmed(1) === Seq("matchScores"))
    // unwarmed: q20 builds pairScores2 from matchScores, which q14 builds
    // from matchCands, so both parents stay until q20
    val lazyBuilt = SweepOrder.releaseSchedule(order, warmed = false)
    assert(lazyBuilt === Map(2 -> Seq("matchCands", "matchScores", "pairScores2")))
  }

  test("key is total: names not shaped q<digits> sort into the tail group") {
    // a harness sorting a mixed name list (e.g. cache_build alongside
    // queries) must not crash on "".toInt (ADVICE r15)
    assert(SweepOrder.key("cache_build") === ((4, 1, 0, Int.MaxValue)))
    assert(SweepOrder.key("") === ((4, 1, 0, Int.MaxValue)))
    assert(SweepOrder.key("q") === ((4, 1, 0, Int.MaxValue)))
    // q13 is matchCands' sole consumer → an opener (flag 0, depth 0)
    assert(SweepOrder.key("q13_entity_candidates") === ((0, 0, 0, 13)))
    assert(SweepOrder.key("q14_entity_scores") === ((0, 1, 0, 14)))
  }

  test("sole-consumer openers are DERIVED: q13 opens the match cluster " +
      "from the family rows, not by a hard-coded id (VERDICT r16)") {
    // the rule: a query that is the only consumer of a memo family
    // opens its cluster (release-early), deepest derivation chain
    // first. q13/matchCands (depth 0) falls out of the family rows'
    // consumers and parents — no literal ids. q19 reads matchScores
    // with nine other queries, so it is no opener.
    assert(SweepOrder.openerDepth("q13_entity_candidates") === 0)
    assert(!SweepOrder.openerDepth.contains("q19_score_pivot"),
      "q19 shares matchScores with nine other consumers — not an opener")
    assert(!SweepOrder.openerDepth.contains("q14_entity_scores"),
      "q14 shares matchScores with nine other consumers — not an opener")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    assert(ordered.take(2) === Seq("q13_entity_candidates", "q14_entity_scores"))
    // and the release schedule drops the big frame right there
    val sched = SweepOrder.releaseSchedule(ordered)
    assert(sched(0) === Seq("matchCands"))
    // the vector cluster gets the same treatment for free: its
    // sole-consumer queries lead it (q163/mmrSims, built from mmrCands,
    // first; then q29/cosineWeights and q57/mlMinhashTf in numeric
    // order)
    val vec = ordered.filter(n => SweepOrder.group(n) == 2)
    assert(vec.take(3) === Seq("q163_mmr_rerank", "q29_cosine_shingles",
      "q57_ml_minhash"))
  }

  /** (family, parent) pairs breaking the lazy-build rule: a family the
    * staged warm does not build must declare no consumer its parent
    * lacks, or a schedule may release the parent before the family's
    * first consumer builds it (and so rebuilds the parent). */
  private def unsafeLazyFamilies(fams: Seq[Family[_]],
                                 warmed: Set[String]): Seq[(String, String)] = {
    val consumers = fams.map(f => f.prefix -> f.consumers).toMap
    fams.sortBy(_.prefix).flatMap { f =>
      if (warmed(f.prefix)) Nil
      else f.parents.filterNot(p => f.consumers.subsetOf(consumers(p)))
        .map(f.prefix -> _)
    }
  }

  private def withConsumers[A](f: Family[A], consumers: Set[String]): Family[A] =
    f.copy(consumers = consumers)(f.build)

  test("a family built at its first consumer is never outlived by a " +
      "parent's release") {
    // the staged warm set is computed from the rule, in parent order
    val warmed = SweepOrder.warmSet.map(_.prefix)
    assert(warmed === Seq("matchCands", "matchScores", "pairScores2"))
    assert(unsafeLazyFamilies(families, warmed.toSet).isEmpty)
    // matchScores must stay warm-built: its consumers are not a subset
    // of matchCands' ({q13}), so built lazily it would rebuild its
    // released parent
    assert(unsafeLazyFamilies(families, warmed.toSet - "matchScores") ===
      Seq("matchScores" -> "matchCands"))
    // the rule bites: without the k-chain consumers on pairScores2 a
    // subset sweep would release it before q159/q199 build from it, so
    // the computed set then warm-builds both k-chain tables too
    val reverted = families.map { f =>
      if (f.prefix != "pairScores2") f
      else withConsumers(f, Set("q20_weight_grid", "q72_weight_refine"))
    }
    assert(unsafeLazyFamilies(reverted, warmed.toSet).toSet ===
      Set("pairScores3" -> "pairScores2", "pairScores6" -> "pairScores2"))
    val rewarmed = SweepOrder.warmBuilt(reverted).map(_.prefix)
    assert(rewarmed.toSet === warmed.toSet + "pairScores3" + "pairScores6")
    assert(unsafeLazyFamilies(reverted, rewarmed.toSet).isEmpty)
  }

  test("the staged warm builds its computed set, in group 0 only") {
    import TestSpark._
    for (g <- 0 to 4) {
      Shared.clear()
      Shared.warmGroup(spark, sf, g)
      val want = SweepOrder.warmSet.filter(_.group == g).map(_.prefix)
      assert(Shared.buildRecord(spark, sf).map(_.key) === want, s"group $g")
      assert(Shared.warmable(g) === want.nonEmpty, s"group $g")
    }
    Shared.clear()
  }

  test("each family's build reads exactly its declared ancestors") {
    // parents drive chainDepth, the unwarmed release schedule and the
    // warm set: a build reading an undeclared family (or declaring one
    // it never reads) would mis-schedule both
    import TestSpark._
    import graft.queries.VectorQueries
    // a key argument for each keyed family: q82's k-means K, and a leg
    // of each ANN family
    val args: Map[String, Any] =
      VectorQueries.annLegs.map(l => l.prefix -> l.param).toMap + ("kmeans" -> 8)
    val byPrefix = families.map(f => f.prefix -> f).toMap
    def ancestors(f: Family[_]): Set[String] =
      f.parents.toSet.flatMap((p: String) => ancestors(byPrefix(p)) + p)
    def familyOf(key: String): String = families.map(_.prefix).filter(key.startsWith).head
    val wrong = families.flatMap { f =>
      Shared.clear()
      f.asInstanceOf[Family[Any]](spark, sf, args.getOrElse(f.prefix, ()))
      val built = Shared.buildRecord(spark, sf).map(b => familyOf(b.key)).toSet
      val declared = ancestors(f) + f.prefix
      if (built == declared) None
      else Some(s"${f.prefix} builds ${built.toSeq.sorted}, declares ${declared.toSeq.sorted}")
    }
    Shared.clear()
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("memoized is called only by the family rows") {
    // each memo family's key, partition keys and build are spelled in
    // its Family row; a direct call would hide a family from the
    // schedule, the warm set and the parent check
    val call = """\bmemoized\(""".r
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val calls = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).nonEmpty &&
            !line.contains("def memoized(") => s"${p.getFileName}:${i + 1}"
      }
    }
    assert(calls.size === 1 && calls.head.startsWith("SweepOrder.scala:"),
      s"call Shared.memoized through a SweepOrder.Family row: $calls")
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

  test("the ANN-leg and training-chain tables are well formed") {
    import graft.queries.{MatchingQueries, VectorQueries}
    val legs = VectorQueries.annLegs
    val known = SparkEntry.queries.keySet
    def unique[A](xs: Seq[A]) = xs.distinct == xs
    assert(unique(legs.map(_.method)), "a method label is declared twice")
    assert(unique(legs.map(l => l.family.key(l.param))),
      "a memo key is declared twice")
    // legs sharing a prefix are one family: parameterized, same parents
    legs.groupBy(_.prefix).foreach { case (p, rows) =>
      assert(rows.size == 1 || rows.forall(_.param.nonEmpty),
        s"unparameterized legs share the prefix $p")
      assert(rows.map(_.parents).distinct.size === 1, s"$p parents differ")
    }
    val named = (VectorQueries.legQueries ++ VectorQueries.graders).map(_._1)
    assert(unique(named), "a query is named twice")
    assert(named.toSet.subsetOf(known),
      s"the tables name unknown queries: ${named.toSet -- known}")
    assert(VectorQueries.legQueries.forall { case (_, l) => legs.contains(l) })
    VectorQueries.graders.foreach { case (name, g) =>
      assert(g.legs.nonEmpty && g.legs.toSet.subsetOf(legs.toSet),
        s"$name's legs are not a non-empty subset of the rows")
    }
    val chains = MatchingQueries.trainingChains
    assert(unique(chains.map(_.k)), "two chains share a k")
    val chainQs = chains.flatMap(_.queries)
    assert(unique(chainQs) && chainQs.toSet.subsetOf(known),
      s"chain queries: $chainQs")
  }

  test("clustered order is a permutation of its input") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)
    assert(ordered.sorted === names)
  }
}
