package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Shared

/** Family-clustered sweep order for multi-query harnesses, and the one
  * [[sweep]] loop that runs a query list in it (Bench, Verify,
  * PlanDump, QueriesSpec).
  *
  * The round-14 sf10 run measured WHY order matters: the consumers of
  * the ~31 GiB matchPairs/partScores family were scattered across the
  * alphabetical sweep (q13…q20, then q43/q44, then q72, then q159–161,
  * then q199–203) — so that round's 24 GiB cache budget evicted it
  * between them and they rebuilt it ~15 times (101 evictions, 2.54×
  * like-for-like). Running each memo family's consumers CONTIGUOUSLY
  * and releasing the family after its last one bounds residency to
  * the live cluster and rebuilds to none, which is exactly how a user
  * would schedule a multi-query session over shared intermediates.
  *
  * Every fact about a memo family lives in its one [[Family]] row,
  * its key, layout and build included; [[families]] lists the rows. A
  * query's group, the cluster openers, the release schedule and the
  * staged warm set ([[warmSet]]) all derive from those rows.
  * QueriesSpec checks the consumer sets against the touch log of an
  * sf0.001 sweep, SweepOrderSpec the parents against what each build
  * reads. Queries touching no memo run last (their transients are
  * retired per-query, so they exert no cache pressure on anyone).
  *
  * Group order runs the most expensive family FIRST, straight after
  * the warm pass builds it, so the big frames are consumed while
  * fresh and released as soon as their last consumer is done.
  */
object SweepOrder {

  /** Sweep groups, in run order: the quadratic match chain, text
    * dedup, vector, the small graph/vocab families; queries reading no
    * memo family form group 4. The text families' consumer sets
    * overlap (q59, q93, q111 and q197 read two of the three), so they
    * schedule as one block. */
  final val Match = 0
  final val Text = 1
  final val Vector = 2
  final val Graph = 3

  /** One memo family, declared once, next to the code it builds from:
    * the key-name `prefix` its memo keys start with, its sweep
    * `group`, the `parents` whose frames its build reads, the
    * `consumers` that read it, the `parts` its frame is
    * hash-partitioned on before caching ([[Shared.memoized]]) and its
    * `build`. `A` is the key argument: `Unit` for a family with one
    * key, the prefix; otherwise each argument is a key of its own, the
    * prefix suffixed with it (k-means at k = 8 is "kmeans8", the
    * Matryoshka leg at p = 8 "annMrl8"). Calling the row returns the
    * frame, built once per (session, dir). */
  final case class Family[A](prefix: String, group: Int,
      parents: Seq[String], consumers: Set[String], parts: Seq[String] = Nil)(
      val build: (SparkSession, String, A) => DataFrame) {
    def key(arg: A): String = (arg: Any) match {
      case () | None => prefix
      case Some(a) => s"$prefix$a"
      case a => s"$prefix$a"
    }

    def apply(s: SparkSession, dir: String, arg: A): DataFrame =
      Shared.memoized(s, dir, key(arg), parts)(build(s, dir, arg))

    def apply(s: SparkSession, dir: String)
             (implicit unit: Unit =:= A): DataFrame = apply(s, dir, unit(()))
  }

  /** Every memo family. A drifted consumer set (a new query reading a
    * released family) costs one visible rebuild, never a wrong answer;
    * QueriesSpec fails on any touch not declared in a row,
    * SweepOrderSpec on a row whose build reads other families than its
    * declared ancestors, and on one prefix starting another (a release
    * would drop the live sibling). */
  val families: Seq[Family[_]] = {
    import graft.queries._
    import MatchingQueries.{matchCands, matchScores, weightPairScores}
    import VectorQueries.{annFamilies, candCosines, ivfpqBook, ivfpqCodes,
      kmeans, lshBuckets, mmrCands, mmrSims, pqCodebook, pqCodes}
    Seq(matchCands, matchScores, weightPairScores, Shared.dupPairs,
      Shared.simhashes, ParityQueries.shingleTf3, lshBuckets, candCosines,
      kmeans, pqCodebook, pqCodes, ivfpqBook, ivfpqCodes, mmrCands, mmrSims,
      TextQueries.cosineWeights, MlQueries.q57Tf, MiscQueries.prEdges,
      NlpQueries.bpeVocab) ++ annFamilies ++
      MatchingQueries.trainingChains.flatMap(c => Seq(c.pairScores, c.walk))
  }

  private val byPrefix: Map[String, Family[_]] =
    families.map(f => f.prefix -> f).toMap

  private val queryGroup: Map[String, Int] = families
    .flatMap(f => f.consumers.map(_ -> f.group))
    .groupMapReduce(_._1)(_._2)(math.min)

  // total on ANY name: one not shaped q<digits>… sorts last instead
  // of throwing NumberFormatException out of a harness's startup sort
  // (ADVICE r15 — "".toInt)
  private def numericId(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toIntOption.getOrElse(Int.MaxValue)

  /** Memo-family group of a query name (0 match, 1 text, 2 vector,
    * 3 graph, 4 none): the lowest group among the families it reads.
    * The staged warm pass builds group g's cache families right before
    * its first query runs. */
  def group(name: String): Int = queryGroup.getOrElse(name, 4)

  /** Derivation depth of a memo family — how long the rebuild chain
    * under it is: matchCands 0, matchScores 1, pairScores2 2, …
    * Deeper chain = costlier rebuild class, without hand-coding
    * per-family sizes here. */
  private def chainDepth(f: Family[_]): Int =
    if (f.parents.isEmpty) 0
    else 1 + f.parents.map(p => chainDepth(byPrefix(p))).max

  /** Queries that are the SOLE consumer of some memo family, mapped to
    * the deepest chain depth among those families. DERIVED from
    * [[families]], not hand-picked (VERDICT r16 item 1): a family with
    * exactly one consumer should have that consumer OPEN its cluster,
    * so the scheduler releases the frame after the very first query
    * instead of holding it resident across the whole cluster — q13
    * opens the match cluster because it alone reads the candidate
    * frame, the biggest one. Deeper-chain (costlier-rebuild-class)
    * openers run first; the next big single-consumer frame gets the
    * release-early treatment automatically when its row lands in
    * [[families]]. */
  private[graft] val openerDepth: Map[String, Int] = families
    .collect { case f if f.consumers.size == 1 => f.consumers.head -> chainDepth(f) }
    .groupMapReduce(_._1)(_._2)(math.max)

  /** Sort key: (family group, opener flag, −opener depth, numeric id).
    * Sole-consumer openers lead their group, deepest chain first; ties
    * and everything else run in numeric order; queries touching no
    * memo family run last. */
  def key(name: String): (Int, Int, Int, Int) = {
    val id = numericId(name)
    openerDepth.get(name) match {
      case Some(d) => (group(name), 0, -d, id)
      case None    => (group(name), 1, 0, id)
    }
  }

  def sort[T](qs: Seq[(String, T)]): Seq[(String, T)] =
    qs.sortBy { case (n, _) => key(n) }

  /** Families built from `f`, transitively. */
  private def derived(f: Family[_]): Seq[Family[_]] =
    families.filter(_.parents.contains(f.prefix)).flatMap(c => c +: derived(c))

  /** index → memo-key prefixes whose last consumer in `order` sits at
    * that index: the sweep releases them right after running it
    * ([[graft.queries.Shared.releaseMemo]]). Without the staged warm
    * (`warmed = false`), any family may be built at its first
    * consumer, which reads its parents then: so a family is held until
    * the last consumer of every family derived from it too, or a
    * subset run would rebuild a released parent (q14 building
    * matchScores after q13 released matchCands). */
  def releaseSchedule(order: Seq[String],
                      warmed: Boolean = true): Map[Int, Seq[String]] = {
    val idx = order.zipWithIndex.toMap
    families
      .flatMap { f =>
        val readers = if (warmed) f.consumers
          else f.consumers ++ derived(f).flatMap(_.consumers)
        val hits = readers.flatMap(idx.get)
        if (hits.isEmpty) None else Some(f.prefix -> hits.max)
      }
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
  }

  /** The families the staged warm builds, in parent order: each one
    * that breaks the lazy-build rule — some parent's consumers do not
    * cover its own, so a schedule may release that parent before the
    * family's first consumer builds from it — and every ancestor of
    * one, so the warm itself reads no released frame. Every other
    * family builds at its first consumer, its parents still cached. */
  private[graft] def warmBuilt(fams: Seq[Family[_]]): Seq[Family[_]] = {
    val byName = fams.map(f => f.prefix -> f).toMap
    def ancestors(f: Family[_]): Seq[Family[_]] =
      f.parents.map(byName).flatMap(p => p +: ancestors(p))
    val breaking = fams.filter(f =>
      f.parents.exists(p => !f.consumers.subsetOf(byName(p).consumers)))
    (breaking ++ breaking.flatMap(ancestors)).distinct
      .sortBy(f => ancestors(f).distinct.size)
  }

  /** [[warmBuilt]] over [[families]]: matchCands → matchScores →
    * pairScores2 (matchScores has readers q13 lacks, and pairScores2
    * readers matchScores lacks). */
  val warmSet: Seq[Family[_]] = warmBuilt(families)

  /** What one [[sweep]] did: each query's action result or failure, in
    * run order, and the staged warm's wall seconds and whether every
    * group built. */
  final case class Swept[R](results: Seq[(String, Either[Throwable, R])],
                            warmSec: Double, warmOk: Boolean)

  /** Run `qs` the way one user session over shared memos runs them: in
    * clustered order; on a `full` sweep, each group's share of the
    * staged warm ([[warmSet]], via [[Shared.warmGroup]]) built right
    * before its first query, every other family at its first
    * consumer, and a GC at each group boundary
    * (deleted shuffle files stay mmap'd until a GC; at sf10 that
    * transient ran df 20–40 G above du); then per query, `action` on
    * the query's frame builder, and the cache retirement: the query's
    * transients and every family whose last consumer it was. Subset
    * runs skip warm and GC, so a replayed query builds only what it
    * reads and carries no pause production queries never see; they
    * hold each family until the last reader of any family built from
    * it ([[releaseSchedule]] unwarmed). A
    * failed warm degrades to lazy builds; a failed query
    * is recorded and the sweep goes on. Both print their cause on
    * stderr after `log`. */
  def sweep[R](spark: SparkSession, dir: String,
               qs: Seq[(String, (SparkSession, String) => DataFrame)],
               full: Boolean, log: String)
              (action: (String, () => DataFrame) => R): Swept[R] = {
    def cause(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"
    val order = sort(qs)
    val releaseAt = releaseSchedule(order.map(_._1), warmed = full)
    var warmSec = 0.0
    var warmOk = true
    var prevGroup = -1
    val results = order.zipWithIndex.map { case ((name, fn), i) =>
      // the order is clustered: a group change is the group's first query
      val g = group(name)
      if (full && g != prevGroup) {
        if (prevGroup >= 0) System.gc()
        if (Shared.warmable(g)) {
          // warm builds are unattributed in the touch report
          Shared.beginQuery("")
          val t0 = System.nanoTime()
          try Shared.warmGroup(spark, dir, g) catch { case e: Throwable =>
            warmOk = false
            System.err.println(s"$log cache_build group $g failed: ${cause(e)}")
          }
          warmSec += (System.nanoTime() - t0) / 1e9
          System.err.println(f"$log cache_build group $g, cum $warmSec%.1f s")
        }
      }
      prevGroup = g
      Shared.beginQuery(name)
      val r = try Right(action(name, () => fn(spark, dir)))
        catch { case e: Throwable =>
          System.err.println(s"$log $name failed: ${cause(e)}")
          Left(e)
        }
      Shared.retireTransients()
      releaseAt.getOrElse(i, Nil).foreach(Shared.releaseMemo)
      name -> r
    }
    Shared.beginQuery("")
    Swept(results, warmSec, warmOk)
  }
}
