package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import graft.Tables
import graft.functions.TextFns
import graft.operators.TextDedup

/** Cross-query memoization of expensive shared subplans.
  *
  * Several query families consume the same intermediate relation (the
  * quadratic match-score table; the MinHash-LSH dup-pair table; the
  * per-doc simhash table). A user composing these queries over one
  * session would persist that frame once — Verify/Bench sweeps should
  * behave the same instead of recomputing the pipeline per query
  * (the round-1 bench died from exactly that accumulated shuffle
  * volume). Keyed by (applicationId, dir, name) so scale factors and
  * fresh sessions never collide.
  *
  * The memo lives under a byte budget ([[enforceBudget]]): persisted
  * storage is executor scratch, and a 100 TB deployment has to bound
  * it. Round 14 measured BOTH failure modes at sf10 — unbounded cache
  * = ENOSPC (r13), an undersized fixed budget + LRU eviction = 2.54×
  * recompute thrash (r14's 24 GiB default vs the ~31 GiB hot family).
  * Round 15 takes the priced fix: the default budget derives from the
  * scratch volume's free space at startup, and eviction is weighted
  * by measured rebuild cost so the expensive quadratic family is the
  * LAST thing dropped, not LRU-equal with a cheap shingle table.
  */
object Shared {

  private val memo =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  // per-key build lock: TrieMap.getOrElseUpdate may evaluate a racing
  // builder twice and discard one — harmless for a lazy plan, but the
  // memoized build is now EAGER (materialize + measure), so a discard
  // would leak a fully-built persisted frame
  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  // every build in order: (memo key, wall seconds, triggering query,
  // "" = warm). A key's last build is its eviction rebuild price.
  private val builds =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, String)]

  // budget-enforcement epoch of each frame's last access: enforceBudget
  // runs once per query in a sweep, so "lastEpoch == current epoch"
  // means "touched by the query that just finished" — the frames most
  // likely re-read by the NEXT query of the same family cluster
  private val lastEpoch =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  @volatile private var epoch = 0L

  // sweep-order instrumentation: (memo key, query name) pairs, so a
  // discovery run can dump which queries consume which cache family
  // (the family-clustered bench order is generated from this, not
  // hand-guessed)
  @volatile private var curQuery: String = ""
  private val touches =
    scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

  /** Name the query about to run (sweep harnesses only; ignored when
    * unset) — feeds the memo-touch report. */
  def beginQuery(name: String): Unit = curQuery = name

  /** memo key → query names that touched it, for sweep-order design. */
  def touchReport: Seq[(String, Seq[String])] = touches.keys.toSeq
    .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toSeq.sortBy(_._1)

  /** Test hook: record a frame's rebuild cost as its latest build so
    * the eviction-policy specs are deterministic (real costs are wall
    * time). */
  private[graft] def setBuildCostForTest(s: SparkSession, dir: String,
                                         key: String, sec: Double): Unit =
    builds.add((s"${s.sparkContext.applicationId}|$dir|$key", sec, ""))

  /** Every memo build for (session, dir) since the last [[clear]], in
    * build order: (key name, wall seconds, triggering query, "" when
    * the staged warm built it). */
  private[graft] def buildRecord(s: SparkSession, dir: String)
      : Seq[(String, Double, String)] = {
    val scope = s"${s.sparkContext.applicationId}|$dir|"
    builds.asScala.toSeq.collect {
      case (k, sec, q) if k.startsWith(scope) => (k.drop(scope.length), sec, q)
    }
  }

  /** Memo-family derivation edges: child key-name prefix → the parent
    * family prefixes its build READS (prefixes, because parameterized
    * keys carry scale-derived suffixes — "kmeans" covers "kmeans8").
    * Declared here, next to the policy that needs it, and consumed two
    * ways: [[effectiveCost]] prices a frame's rebuild at its own
    * measured build PLUS every uncached ancestor's, and
    * [[graft.SweepOrder]] derives the cluster-opener rank from the
    * chain depth (deeper chain = costlier rebuild class). */
  private[graft] val derivedFrom: Map[String, Seq[String]] = Map(
    "partScores"    -> Seq("partCands"),
    "pivotedScores" -> Seq("partScores", "partSuppScores"),
    "pairScores2"   -> Seq("pivotedScores"),
    "pairScores3"   -> Seq("pairScores2"),
    "pairScores6"   -> Seq("pairScores2"),
    "k3walk"        -> Seq("pairScores3"),
    "k6walk"        -> Seq("pairScores6"),
    "pqCodes"       -> Seq("pqCodebook"),
    "ivfpqBook"     -> Seq("kmeans"),
    "ivfpqCodes"    -> Seq("ivfpqBook", "kmeans"),
    // round 18: the shared candidate-cosine frame and the memoized
    // ANN search legs (rebuilding a leg re-reads its index family)
    "candCosines"   -> Seq("lshBuckets"),
    "annLsh"        -> Seq("lshBuckets"),
    "annMlsh"       -> Seq("lshBuckets"),
    "annIvfKmeans"  -> Seq("kmeans"),
    "annIvfpq"      -> Seq("ivfpqCodes", "kmeans"),
    "annPq"         -> Seq("pqCodes"),
    "knnEdges"      -> Seq("candCosines"))

  // longest declared prefix wins, so "pqCodes" can never accidentally
  // resolve through a shorter sibling key
  private def parentsOf(name: String): Seq[String] = {
    val hits = derivedFrom.filter { case (p, _) => name.startsWith(p) }
    if (hits.isEmpty) Nil else hits.maxBy(_._1.length)._2
  }

  /** TRUE rebuild price of memo key `mk`: its own measured build plus
    * the last measured build of every ancestor family that is no
    * longer cached — rebuilding `mk` would silently rebuild those
    * first. Its own build records the INCREMENTAL cost measured
    * while the parents were still cached; once the scheduler releases
    * a parent (pivotedScores at q19), pricing the survivors at that
    * incremental cost makes the evictor see the most dangerous frames
    * as near-free victims — a mid-cluster eviction of pairScores2
    * would re-run the full ~150 s (sf10) pivot chain the round-16
    * redesign exists to avoid (ADVICE r16). Ancestor prices survive
    * release/eviction because builds are only dropped by clear(). */
  private def effectiveCost(mk: String): Double = {
    val buildSec = builds.asScala.map(b => b._1 -> b._2).toMap // last wins
    val scope = mk.take(mk.lastIndexOf('|') + 1) // "app|dir|"
    val cached = memo.keysIterator.filter(_.startsWith(scope))
      .map(_.drop(scope.length)).toSet
    def famCost(prefix: String): Double = buildSec.iterator.collect {
      case (k, v) if k.startsWith(scope) &&
        k.drop(scope.length).startsWith(prefix) => v
    }.foldLeft(0.0)(math.max)
    def missing(name: String, seen: Set[String]): Double =
      parentsOf(name).filterNot(seen).map { p =>
        if (cached.exists(_.startsWith(p))) 0.0
        else famCost(p) + missing(p, seen + p)
      }.sum
    buildSec.getOrElse(mk, 0.0) + missing(mk.drop(scope.length), Set.empty)
  }

  private[graft] def effectiveCostForTest(s: SparkSession, dir: String,
                                          key: String): Double =
    effectiveCost(s"${s.sparkContext.applicationId}|$dir|$key")

  // every ANONYMOUS frame this module persisted (per-query transients
  // registered via track), so long-lived sessions can release them
  // (VERDICT r3: session-lifetime caches accumulating is wrong for a
  // resident service at scale). Memo frames live in `memo` only.
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Register an externally-persisted frame for retirement. These are
    * per-query transients (a frame one query's plan reads several
    * times): no other query ever holds a reference, so the sweep
    * harness retires them as soon as the consuming query finishes
    * ([[retireTransients]]) instead of letting dead blocks accumulate
    * across a 207-query sweep — at sf10 that accumulation was ~55 G of
    * scratch, the round-13 single-JVM ENOSPC mechanism. */
  def track(df: DataFrame): DataFrame = { tracked.add(df); df }

  /** Unpersist every anonymous per-query transient. BLOCKING: the
    * caller's next step is usually [[enforceBudget]]'s storage
    * snapshot, and an async removal racing that snapshot inflates the
    * measured total with already-dead blocks (ADVICE r15) — the
    * over-eviction amplifier. Correctness is unaffected either way
    * (an unpersisted frame recomputes if ever re-read) and no
    * transient has consumers beyond its own query. */
  def retireTransients(): Unit = {
    var df = tracked.poll()
    while (df != null) { df.unpersist(true); df = tracked.poll() }
  }

  /** Session-cache storage budget in bytes (mem + disk): when total
    * persisted storage exceeds it, [[enforceBudget]] evicts memo
    * frames until back under. 0 disables.
    *
    * Default: 60% of the scratch volume's FREE space, measured once at
    * startup — the round-14 verdict's exact finding was that a fixed
    * one-box constant (24 GiB) turned into engine policy: far above
    * any sf0.1 working set (no effect on the canonical bench) yet
    * below the ~31 GiB sf10 hot family, which the LRU then rebuilt
    * ~15 times (2.54× like-for-like). Sizing to the machine is what a
    * per-executor deployment does; SPARK_GRAFT_CACHE_BUDGET_GB stays
    * as the explicit override (whole GiB; malformed values warn and
    * fall back rather than poisoning every query with an
    * ExceptionInInitializerError). */
  /** Scratch the budget must LEAVE FREE for what it cannot govern:
    * live shuffle files plus the deleted-but-still-mmap'd shuffle
    * transient (the round-15 sf10 run sampled whole-disk df 20–40 GiB
    * above du until the periodic GC unmapped the files). The derived
    * budget is capped at `free - headroom`, so on a nearly-full volume
    * the cache yields before the shuffle path ENOSPCs — the r13 mode a
    * pure percentage can re-create (ADVICE r15). Sweeps also trigger a
    * GC at each family-cluster boundary to cut the transient itself.
    *
    * 16 GiB is this box's MEASURED transient class at sf10 — as a flat
    * constant it is the right ceiling here but over-charges a
    * small-scratch machine (VERDICT r16): [[headroomBytes]] sizes the
    * working headroom to the observed shuffle watermark instead, with
    * this constant as the big-box ceiling of the floor. */
  private[graft] val ShuffleHeadroomBytes: Long = 16L << 30

  // persisted blocks + shuffle files land under spark.local.dir
  // (java.io.tmpdir when unset, as in local[] mode here)
  private val scratchDir: String = sys.props.get("spark.local.dir")
    .orElse(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(",").head))
    .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
  private val scratchUsable0: Long = new java.io.File(scratchDir).getUsableSpace

  /** Max observed non-cache scratch consumption (live shuffle files +
    * the mmap'd transient), sampled at every [[enforceBudget]] call as
    * startup-free − current-free − disk-persisted cache bytes. Other
    * processes sharing the volume inflate it — which shrinks the
    * budget, the safe direction. Survives [[clear]]: it is a machine
    * observation, not cache state. */
  @volatile private[graft] var shuffleWatermark: Long = 0L

  /** Headroom the derived budget leaves free, sized to the WORKLOAD
    * (VERDICT r16): twice the observed shuffle watermark, never below
    * a floor of min(16 GiB, free/4). On a big box the floor IS the
    * measured 16 GiB constant (identical behavior to round 16); a
    * small-scratch machine is no longer charged headroom its workload
    * never uses; and a workload whose observed transient exceeds the
    * constant GROWS the headroom past it, yielding cache before the
    * shuffle path ENOSPCs. */
  private[graft] def headroomBytes(watermark: Long, usable0: Long): Long =
    math.max(math.min(ShuffleHeadroomBytes, usable0 / 4), 2L * watermark)

  /** Pure derived-budget formula: min(60% of startup-free, startup-free
    * − headroom), floored at min(1 GiB, free/2) — a 1 GiB floor above
    * the volume's actual free space would BE the next ENOSPC — and
    * never below 64 MiB: on a (near-)full volume the round-16 spelling
    * returned 0, which [[enforceBudget]] reads as DISABLED — eviction
    * switched off exactly when the disk is most constrained (ADVICE
    * r16). 64 MiB keeps the policy live: it evicts essentially
    * everything instead of nothing. */
  private[graft] def derivedBudget(usable: Long, headroom: Long): Long =
    math.max(
      math.max(math.min(usable * 6 / 10, usable - headroom),
               math.min(1L << 30, usable / 2)),
      64L << 20)

  private val envBudgetBytes: Option[Long] =
    sys.env.get("SPARK_GRAFT_CACHE_BUDGET_GB").flatMap { v =>
      v.toLongOption match {
        case Some(g) => Some(g << 30)
        case None =>
          System.err.println("[graft] SPARK_GRAFT_CACHE_BUDGET_GB=" +
            s"'$v' is not a whole number of GiB; using the " +
            "scratch-derived default")
          None
      }
    }

  val cacheBudgetBytes: Long = envBudgetBytes.getOrElse(
    derivedBudget(scratchUsable0, headroomBytes(0L, scratchUsable0)))

  /** Budget as of NOW: re-derived each enforcement with the headroom
    * sized to the shuffle watermark observed so far this JVM. The env
    * override pins it (the sf10 arms are measured under a pinned
    * 40 GiB); with no watermark yet this equals [[cacheBudgetBytes]]. */
  def currentBudget: Long = envBudgetBytes.getOrElse(
    derivedBudget(scratchUsable0,
      headroomBytes(shuffleWatermark, scratchUsable0)))

  /** Deficit-cover eviction plan (pure, spec-pinned): choose victims
    * minimizing total rebuild seconds for the bytes that must go.
    * While over budget: if any candidate alone covers the remaining
    * deficit, evict the cheapest-rebuild such cover; otherwise evict
    * the best bytes-per-rebuild-second frame and continue. Protected
    * frames (touched by the query that just finished) are considered
    * only once unprotected ones are exhausted.
    *
    * Why not pure cost-per-byte: at sf10 both round-15 arms sat
    * 2.5 G over budget at q43 and cost-per-byte picked the ~25 G
    * pivotedScores frame (148 s build, still wanted by q72) because
    * big frames have great ratios — when a 3 G frame at 80 s, or two
    * sub-GiB frames at 48 s total, would have covered the deficit.
    * Candidates: (key, bytes, buildSec, protected). */
  private[graft] def evictionPlan(
      cands: Seq[(String, Long, Double, Boolean)],
      deficit: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    var left = deficit
    var rest = cands
    while (left > 0 && rest.nonEmpty) {
      val tier = {
        val unprot = rest.filter(!_._4)
        if (unprot.nonEmpty) unprot else rest
      }
      val coverers = tier.filter(_._2 >= left)
      val pick =
        if (coverers.nonEmpty) coverers.minBy(_._3)
        else tier.minBy(c => c._3 / c._2.toDouble)
      out += pick._1
      left -= pick._2
      rest = rest.filterNot(_._1 == pick._1)
    }
    out.result()
  }

  /** Evict memoized frames until total persisted RDD storage (memory +
    * disk, ALL blocks — the budget is a machine resource, not a
    * bookkeeping one) fits [[cacheBudgetBytes]]. An evicted family is
    * dropped from the memo too, so a late consumer transparently
    * rebuilds (and re-persists) it — a visible recompute, never a
    * wrong answer.
    *
    * Accounting: ONE storage snapshot, each evicted frame's own size
    * (resolved to its cache RDD via GraftCacheProbe) subtracted from
    * the running total. The round-14 spelling re-polled the event-bus
    * -fed global total after every eviction; a lagging total made it
    * over-evict, and each never-materialized frame burned a 2 s poll
    * (ADVICE r15).
    *
    * Order: [[evictionPlan]] — deficit-cover selection minimizing
    * total rebuild seconds (costs measured at memoization time), so
    * the quadratic match family (expensive to rebuild, the round-14
    * thrash) outlives cheap shingle/bucket tables, and a small frame
    * that covers the whole deficit beats a huge one with a better
    * ratio. Frames touched since the previous enforceBudget call
    * (i.e. by the query that just finished) are evicted only after
    * everything else: under a family-clustered sweep they are exactly
    * the frames the next query re-reads. */
  def enforceBudget(s: SparkSession,
                    budget: Long = currentBudget): Unit = synchronized {
    if (budget <= 0) { epoch += 1; return }
    val infos = s.sparkContext.getRDDStorageInfo
    var total = infos.map(i => i.memSize + i.diskSize).sum
    // shuffle-watermark sample (feeds currentBudget's derived
    // headroom): what the scratch volume lost since startup beyond
    // what the persisted cache accounts for is shuffle + transient
    val nonCache = (scratchUsable0 -
      new java.io.File(scratchDir).getUsableSpace) -
      infos.map(_.diskSize).sum
    if (nonCache > shuffleWatermark) shuffleWatermark = nonCache
    val curEpoch = epoch
    epoch += 1
    if (total <= budget) return
    val sizeOf = infos.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    // Candidates are PHYSICAL cache entries, not memo keys: two keys
    // whose plans are canonically equal share one CacheManager entry
    // (same storage RDD), so counting per key double-counts the bytes
    // and — worse — evicting one key silently unpersists its twin
    // while the twin stays in the memo, recomputing on every read
    // with no cache until clear() (ADVICE r15). Group by resolved RDD
    // id; an eviction drops EVERY key of the group. A frame with no
    // accounted storage frees nothing: skipped rather than burning an
    // eviction (and a rebuild) on it.
    val byRdd = memo.toSeq.flatMap { case (k, df) =>
      org.apache.spark.sql.GraftCacheProbe.cachedRddId(df)
        .filter(id => sizeOf.getOrElse(id, 0L) > 0L)
        .map(id => (id, k, df))
    }.groupBy(_._1)
    var memoBytes = byRdd.keysIterator.map(sizeOf).sum
    // representative key per entry (first alphabetically) carries the
    // group through the pure plan; rebuild cost is the MAX member's —
    // twins share one physical rebuild (the CacheManager re-dedups the
    // canonically-equal plan on the next persist)
    val members = byRdd.map { case (id, grp) =>
      grp.map(_._2).min -> (id, grp)
    }
    // rebuild price is the EFFECTIVE cost (own build + every uncached
    // ancestor's — ADVICE r16): a family whose parent the scheduler
    // already released would otherwise be priced at the cheap
    // incremental cost measured while the parent was cached
    val plan = evictionPlan(
      members.toSeq.map { case (rep, (id, grp)) =>
        (rep, sizeOf(id),
         grp.map(g => effectiveCost(g._2)).max,
         grp.exists(g => lastEpoch.getOrElse(g._2, -1L) == curEpoch))
      },
      total - budget)
    for (rep <- plan) {
      val (id, grp) = members(rep)
      val bytes = sizeOf(id)
      val cost = grp.map(g => effectiveCost(g._2)).max
      grp.foreach { case (_, k, _) =>
        memo.remove(k)
        lastEpoch.remove(k)
      }
      grp.head._3.unpersist(true)
      total -= bytes
      memoBytes -= bytes
      val names = grp.map(_._2).sorted.mkString(", ")
      System.err.println(f"[graft] cache budget: evicted $names " +
        f"(${bytes >> 20} MiB, build $cost%.1f s; " +
        f"${total >> 20} MiB persisted vs budget ${budget >> 20} MiB)")
    }
    // the memo is all this policy CAN evict; if non-memo persists
    // dominate, say so — a sweep reading this line can tell budget
    // thrash from an untracked caller persist (ADVICE r15)
    if (total > budget)
      System.err.println(s"[graft] cache budget: memo exhausted, " +
        s"${total >> 20} MiB persisted vs budget ${budget >> 20} MiB — " +
        s"residual non-memo storage ${(total - memoBytes) >> 20} MiB " +
        "(un-retired transients or caller persists)")
  }

  /** Scheduler-informed release: drop every memoized family whose key
    * name starts with `prefix`, unpersisting its frames (blocking, so
    * the next budget snapshot is truthful). Sweeps call this the
    * moment a family's LAST scheduled consumer finishes
    * ([[graft.SweepOrder.releaseSchedule]]): a dead family's bytes
    * stop competing with live families for the budget, which is
    * information the byte/cost eviction policy alone cannot have — at
    * sf10 the cost-weighted backstop kept the 26 GiB pivotedScores
    * family alive past its q20 consumer only to evict it two queries
    * before q72 re-read it (a 160 s rebuild, the one real miss of the
    * round-15 run). If a released family IS re-read (consumer-map
    * drift), [[memoized]] transparently rebuilds it — a visible
    * recompute, never a wrong answer. */
  def releaseMemo(prefix: String): Unit = {
    val victims = memo.keys.filter(_.split('|').last.startsWith(prefix))
    victims.foreach { k =>
      memo.remove(k).foreach { df =>
        df.unpersist(true)
        System.err.println(s"[graft] cache release: $k (last consumer done)")
      }
      lastEpoch.remove(k)
    }
  }

  /** Unpersist every frame this registry persisted (non-blocking) and
    * drop the memo table. Call between workloads in a long-lived
    * session — Verify/Bench call it before `spark.stop()`. */
  def clear(): Unit = {
    memo.values.foreach(_.unpersist(false))
    memo.clear()
    lastEpoch.clear()
    builds.clear()
    buildLocks.clear()
    // reset the touch attribution too: without this, run 2's warm
    // builds are attributed to run 1's LAST query in the touch report,
    // and a misattributed consumer shifts a family's release point
    // when the frozen map is regenerated from it (ADVICE r15)
    curQuery = ""
    touches.clear()
    retireTransients()
    // forensics: the sweep's observed shuffle peak (what currentBudget
    // sized headroom to). NOT reset — a machine observation, and the
    // next sweep in this JVM faces the same volume.
    if (shuffleWatermark > (1L << 30))
      System.err.println(s"[graft] shuffle watermark " +
        s"${shuffleWatermark >> 20} MiB (headroom " +
        s"${headroomBytes(shuffleWatermark, scratchUsable0) >> 20} MiB)")
  }

  /** Persist `build` once per (session, dir), MATERIALIZED eagerly so
    * (a) its rebuild cost is measured where the eviction policy needs
    * it and (b) its storage footprint is real by the time any budget
    * decision reads it. When `parts` is given, the frame is
    * hash-repartitioned on those columns with an explicit partition
    * count BEFORE caching: AQE otherwise coalesces the final exchange
    * to a few 64 MB partitions, and every later aggregation over the
    * cache then runs nearly serially with million-entry per-task hash
    * maps (measured 43 s vs 9 s on the 9M-row candidate frame). An
    * explicit count pins parallelism, and partitioning by the
    * downstream group keys lets those groupBys skip their shuffle
    * entirely (HashPartitioning on a subset of the grouping keys
    * satisfies the ClusteredDistribution requirement). */
  def memoized(s: SparkSession, dir: String, key: String,
               parts: Seq[String] = Nil)
              (build: => DataFrame): DataFrame = {
    val mk = s"${s.sparkContext.applicationId}|$dir|$key"
    lastEpoch.put(mk, epoch)
    if (curQuery.nonEmpty) touches.put((key, curQuery), ())
    memo.get(mk).getOrElse {
      val lock = buildLocks.getOrElseUpdate(mk, new Object)
      lock.synchronized {
        memo.get(mk).getOrElse {
          val t0 = System.nanoTime()
          val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
          val df = if (parts.isEmpty) build
            else build.repartition(n, parts.map(col): _*)
          val p = df.persist(StorageLevel.MEMORY_AND_DISK)
          p.count()
          builds.add((mk, (System.nanoTime() - t0) / 1e9, curQuery))
          memo.put(mk, p)
          p
        }
      }
    }
  }

  /** Sweep groups with staged-warm cache families ([[graft.SweepOrder]]:
    * 0 match, 1 text, 2 vector). Groups 3/4 have none — their sub-MiB
    * frames build lazily at first consumer — so warming them is a
    * no-op that would only log a bogus `cache_build group 3/4` row and
    * muddy the cache forensics (ADVICE r16). Harnesses gate the staged
    * warm on this. */
  def warmable(group: Int): Boolean = group <= 2

  /** Build ONE sweep-order group's staged families right before its
    * first query ([[graft.SweepOrder.sweep]]): match the chain whose
    * parents q13/q19 release (partCands ‖ partSuppScores → partScores
    * → pivotedScores → pairScores2), text dupPairs ‖ simhashes, vector
    * lshBuckets → candCosines. Every other family builds at its first
    * consumer, its parents still cached (their consumers include its
    * own). Per-group staging bounds residency to the cluster: an
    * up-front warm forced the one round-15 sf10 eviction. */
  def warmGroup(s: SparkSession, dir: String, group: Int): Unit = group match {
    case 0 => MatchingQueries.warmShared(s, dir)
    case 1 =>
      // two independent text families — build them as concurrent
      // Spark jobs so the warm uses the whole box (memoized's TrieMap
      // is concurrent and Spark job submission is thread-safe)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future { dupPairs(s, dir).count(); () },
        Future { simhashes(s, dir).count(); () })
        .foreach(Await.result(_, Duration.Inf))
    case 2 => VectorQueries.warmShared(s, dir)
    case _ => ()
  }

  /** MinHash-LSH near-dup pairs over documents (q26/q36/q59). */
  def dupPairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "dupPairs")(
      TextDedup.minhashDupPairs(Tables.documents(s, dir), "doc_id", "text"))

  /** Per-doc 32-bit simhash over token hashes (q27/q45/q59). */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "simhashes")(
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          TextFns.simhash32(TextFns.tokenHashes(col("toks"))).as("simhash")))
}
